"""Join operators (SURVEY.md J1-J7).

The reference runs ~20 equi-joins (inner/left/right; expression-keyed and
USING-keyed) and leans on Catalyst for strategy. This module adds the
100-TB-aware controls the reference lacks: explicit broadcast hints for
dimension joins (sim.sc relies on the 10 MB auto-threshold), semi/anti forms
for membership filtering (the reference emulates a semijoin with an inner join
at sim.sc:451), and salted joins for skewed keys (hub proteins in the
interaction network are power-law — a salted broadcast-free fallback matters
at scale; AQE skew-join handles the sort-merge path). ``symmetrize`` is the
one edge symmetrization every undirected-graph query and the pipeline's
network use.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def join_on(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str] | Column,
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """J1/J2/J3/J4: equi-join; USING-form (list of names, dedups the key) or
    expression-form (different column names, sim.sc:30). ``broadcast_right``
    applies the J7 dimension pattern (sim.sc caches dims at 28/62/446/497 —
    here we additionally hint the broadcast so the plan never sort-merges a
    small dim at scale)."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str] | Column) -> DataFrame:
    """J6: membership filter keeping only left columns — the idiomatic form of
    the reference's whitelist inner-join filter (sim.sc:451)."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str] | Column) -> DataFrame:
    """Complement of J6 (not in the reference; required library surface)."""
    return left.join(right, on=on, how="left_anti")


def annotate_edges(
    edges: DataFrame,
    dim: DataFrame,
    edge_keys: tuple[str, str],
    dim_key: str,
    payload: dict[str, str],
    broadcast_dim: bool = True,
) -> DataFrame:
    """J5: the double-join edge-annotation idiom (sim.sc:30-40 and 64-70) —
    join a dimension once per edge endpoint, renaming the payload per side.

    ``payload`` maps dim column -> output suffix-less name; each output gets
    ``_src``/``_dst`` suffixes. The dim is broadcast by default: in the
    reference it is a gene lookup, small enough that repeating it per endpoint
    must never shuffle the (huge) edge table twice.
    """
    src_key, dst_key = edge_keys
    d = F.broadcast(dim) if broadcast_dim else dim

    src_dim = d.select(
        F.col(dim_key).alias("__k"),
        *[F.col(c).alias(f"{out}_src") for c, out in payload.items()],
    )
    dst_dim = d.select(
        F.col(dim_key).alias("__k"),
        *[F.col(c).alias(f"{out}_dst") for c, out in payload.items()],
    )
    out = (
        edges.join(src_dim, edges[src_key] == src_dim["__k"], "inner")
        .drop("__k")
        .join(dst_dim, edges[dst_key] == dst_dim["__k"], "inner")
        .drop("__k")
    )
    return out


def symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """U1: undirected closure of an edge table — every row (src, dst, rest)
    becomes (src, dst, rest) and (dst, src, rest) (sim.sc:53-54).

    One pass: a 2-element explode of ``struct(src, dst)`` and
    ``struct(dst, src)``. The ``union(swap)`` form references ``edges``
    twice, so its whole upstream plan (a scan, a fact join, a verify stage)
    executes twice. No ``distinct``: callers that need set semantics add
    it, and callers whose next step dedups per group skip the shuffle.
    Output columns: ``src``, ``dst``, then the other columns in order."""
    rest = [c for c in edges.columns if c not in (src, dst)]
    both = F.array(
        F.struct(F.col(src).alias(src), F.col(dst).alias(dst)),
        F.struct(F.col(dst).alias(src), F.col(src).alias(dst)),
    )
    return edges.select(F.explode(both).alias("__e"), *rest).select("__e.*", *rest)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the (skewed) left key into
    ``salt_buckets`` sub-keys and explode the right side across all buckets.

    Use when one side has power-law key frequencies (hub nodes) and the right
    side is too big to broadcast but small enough to replicate ×buckets.
    With AQE skew-join on, prefer the plain join first; this is the manual
    fallback for catastrophic skew.
    """
    salted_left = left.withColumn(
        "__salt", (F.pmod(F.hash(F.col(key), F.monotonically_increasing_id()), F.lit(salt_buckets))).cast("int")
    )
    salted_right = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = salted_left.join(salted_right, on=[key, "__salt"], how=how).drop("__salt")
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    payload: dict[str, str],
    matched_ts: str | None = None,
) -> DataFrame:
    """As-of join (backward, inclusive): for every left row, the payload of the
    latest right row with ``right.ts <= left.ts`` on the same key — the
    point-in-time lookup the reference lacks (SURVEY.md §2.3 "missing").

    Scale path: NOT a range join. Both sides are tagged and unioned, then a
    single window pass per key (``last(payload, ignorenulls)`` over rows up to
    current) carries the most recent right payload forward onto each left row —
    one shuffle on the key, zero candidate-pair explosion, O(n log n) within
    partitions. Left rows with no prior right row keep null payload (ASOF LEFT
    semantics).

    ``payload`` maps right column -> output name (names must not collide with
    left columns). For deterministic output the right side must be unique per
    (key, right_ts) — pre-aggregate ties. ``matched_ts`` optionally surfaces
    the matched right timestamp under that name.
    """
    on_list = [on] if isinstance(on, str) else list(on)
    r = right.select(
        *on_list,
        F.col(right_ts).alias("__r_ts"),
        *[F.col(c).alias(o) for c, o in payload.items()],
    ).withColumn("__side", F.lit(0)).withColumn("__ts", F.col("__r_ts"))
    l = left.withColumn("__side", F.lit(1)).withColumn("__ts", F.col(left_ts))
    u = l.unionByName(r, allowMissingColumns=True)

    # right rows (__side=0) sort before left rows at equal __ts, so an
    # equal-timestamp right row is visible to the left row (inclusive bound).
    w = (
        Window.partitionBy(*on_list)
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [F.last(o, ignorenulls=True).over(w).alias(o) for o in payload.values()]
    if matched_ts is not None:
        carried.append(F.last("__r_ts", ignorenulls=True).over(w).alias(matched_ts))
    out = u.select(*left.columns, F.col("__side"), *carried)
    return out.where(F.col("__side") == 1).drop("__side")


def band_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    band_seconds: int,
) -> DataFrame:
    """Pure range (band) join — ``|left.ts - right.ts| <= band`` with NO
    equality key — via time bucketing (SURVEY.md §2.3 "missing": range join).

    A naive theta-join is a broadcast-nested-loop over every pair; at 100 TB
    that is quadratic. Bucketing makes it an equi-join: each right row lands in
    its ``floor(ts/band)`` bucket, each left row explodes to the (at most 3)
    buckets its band can overlap, the engines equi-join on the bucket id, and
    an exact band filter removes false candidates. Shuffle cost is ~3× left +
    1× right — linear, AQE-coalescible, skew-safe for uniform time.

    Column names of the two inputs must be disjoint (pre-alias). Comparison is
    integer microseconds (``unix_micros``) — deterministic cross-engine.
    """
    band_us = band_seconds * 1_000_000
    l_us = F.unix_micros(F.col(left_ts))
    r_us = F.unix_micros(F.col(right_ts))
    l = left.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor((l_us - F.lit(band_us)) / F.lit(band_us)),
                F.floor((l_us + F.lit(band_us)) / F.lit(band_us)),
            )
        ),
    )
    r = right.withColumn("__bucket", F.floor(r_us / F.lit(band_us)))
    joined = l.join(r, on="__bucket", how="inner").drop("__bucket")
    return joined.where(
        F.abs(F.unix_micros(F.col(left_ts)) - F.unix_micros(F.col(right_ts))) <= F.lit(band_us)
    )
