"""Reproducible sampling / splitting for training-data pipelines.

``df.sample()`` draws from a partition-seeded RNG: the rows it picks change
with partitioning, task retries, and engine — unacceptable for training-data
lineage. These operators derive the draw from a content hash of the row's id
(md5 → integer bucket), so membership is a pure function of the id: stable
across runs, engines, cluster sizes, and incremental re-runs over grown
inputs. All JVM-side column arithmetic (whole-stage codegen, no RNG state).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKETS = 10_000


def md5_bucket(id_col: Column | str, buckets: int = BUCKETS, salt: str = "") -> Column:
    """Deterministic uniform bucket in [0, buckets) from md5 of the id.

    7 hex chars (28 bits) keeps the intermediate well inside int64 in any
    engine. ``salt`` decorrelates independent draws over the same ids
    (e.g. sampling within an already-split corpus).
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(F.concat(F.lit(salt), c.cast("string")))
    return F.conv(F.substring(h, 1, 7), 16, 10).cast("bigint") % buckets


def deterministic_sample(
    df: DataFrame, id_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep ~fraction of rows, membership a pure function of the id."""
    return df.where(md5_bucket(id_col, BUCKETS, salt) < int(fraction * BUCKETS))


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """Corpus mixing: keep each stratum (source/domain) at its own rate —
    the deterministic form of the per-source weighting step in training-data
    pipelines. The draw hashes (stratum, id) so re-weighting one stratum
    never changes which rows another stratum keeps."""
    key = F.concat_ws("|", F.col(strata_col), F.col(id_col).cast("string"))
    b = md5_bucket(key, BUCKETS, salt)
    thr = None
    for name, r in rates.items():
        cond = F.col(strata_col) == name
        t = F.lit(int(r * BUCKETS))
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    thr = F.lit(int(default_rate * BUCKETS)) if thr is None else thr.otherwise(
        F.lit(int(default_rate * BUCKETS))
    )
    return df.where(b < thr)


def group_reservoir(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """Fixed-size-per-stratum sample: the k rows of each stratum whose
    md5(salt, id) sorts lowest — the deterministic equivalent of a per-group
    reservoir sample (uniform over the stratum, stable across runs/engines/
    partitioning, and incremental-friendly: a grown stratum only swaps rows
    at the hash boundary).

    Scale shape: min-k-by-hash is a mergeable aggregate,
    so this uses operators/scans.bounded_top_k_rows — per-(stratum,
    sub-bucket) sorted k-slices merged per stratum — instead of a
    `row_number() OVER (PARTITION BY strata)` window that would sort each
    stratum's full row set on one reducer. Identical output: (hash, id) is
    a unique ascending sort key."""
    from platform_etl_drug_disease_spark.operators.scans import (
        bounded_top_k_rows,
    )

    c = F.col(id_col)
    h = F.md5(F.concat(F.lit(salt), c.cast("string")))
    return bounded_top_k_rows(df, [strata_col], [h, c], k)


def split_assign(
    id_col: Column | str,
    weights: dict[str, float],
    salt: str = "",
) -> Column:
    """Assign each id to a named split (train/val/test) by hash bucket.

    ``weights`` maps split name -> fraction; fractions must sum to <= 1 and
    are laid out as contiguous bucket ranges in dict order (remainder goes to
    the last split). Disjoint and exhaustive by construction.
    """
    b = md5_bucket(id_col, BUCKETS, salt)
    expr = None
    lo = 0
    names = list(weights)
    for name in names[:-1]:
        lo += int(weights[name] * BUCKETS)
        cond = b < lo
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    return last if expr is None else expr.otherwise(last)


def training_order(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic global shuffle for training order: every row gets a
    ``shard`` in [0, n_shards) and a within-shard ``pos`` (1-based), both
    pure functions of (salt, id). Reading shards round-robin and each shard
    in ``pos`` order yields a pseudo-random permutation of the corpus that
    is identical across runs, engines, cluster sizes, and task retries —
    which is what makes a training run reproducible without materializing a
    random() column (partition-seeded RNG, the failure mode this module
    exists to avoid).

    One shuffle, keyed by shard: ~n/n_shards rows per window partition, so
    pick n_shards large enough that a shard fits an executor (at 100 TB,
    thousands of shards — which is also what the downstream trainer wants).
    The ordering hash is the full md5 while the shard is a 28-bit prefix
    bucket, so within-shard order is still well-mixed."""
    from pyspark.sql import Window

    c = F.col(id_col)
    h = F.md5(F.concat(F.lit(salt), c.cast("string")))
    w = Window.partitionBy("shard").orderBy(h.asc(), c.asc())
    return df.withColumn(
        "shard", md5_bucket(id_col, n_shards, salt)
    ).withColumn("pos", F.row_number().over(w))


def epoch_upsample(
    df: DataFrame,
    id_col: str,
    epochs: dict[str, float],
    strata_col: str,
    default_epochs: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """Fractional-epoch repetition: emit each row ``floor(e)`` or
    ``ceil(e)`` times so a stratum's expected multiplicity is exactly its
    epoch count ``e`` — the UP-sampling half of corpus mixing
    (stratified_sample is the down-sampling half; a training mix like
    "wikipedia × 2.7" needs both). The extra copy is a deterministic
    md5-bucket draw on (stratum, id), so reruns, engines, and incremental
    extensions repeat exactly the same rows; each copy carries
    ``epoch_idx`` (0-based) so downstream shuffling can interleave epochs
    (operators/sampling.py:training_order on (id, epoch_idx)).

    Map-side only: a per-row ``explode(sequence(0, n_copies-1))`` — no
    shuffle, no RNG state; at 100 TB the row blowup stays inside the scan
    stage exactly like subspace_rows' fan-out."""
    import math

    key = F.concat_ws("|", F.col(strata_col), F.col(id_col).cast("string"))
    b = md5_bucket(key, BUCKETS, salt)
    n_copies = None
    for name, e in epochs.items():
        base, frac = int(math.floor(e)), e - math.floor(e)
        n = F.lit(base) + (b < F.lit(int(round(frac * BUCKETS)))).cast("int")
        cond = F.col(strata_col) == name
        n_copies = F.when(cond, n) if n_copies is None else n_copies.when(cond, n)
    dbase = int(math.floor(default_epochs))
    dfrac = default_epochs - dbase
    dn = F.lit(dbase) + (b < F.lit(int(round(dfrac * BUCKETS)))).cast("int")
    n_copies = dn if n_copies is None else n_copies.otherwise(dn)
    return df.withColumn("__n_copies", n_copies).where(
        F.col("__n_copies") > 0
    ).select(
        "*", F.explode(F.sequence(F.lit(0), F.col("__n_copies") - 1)).alias("epoch_idx")
    ).drop("__n_copies")


def weighted_group_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str | Column,
    strata_col: str,
    k: int,
    salt: str = "",
    key_out: str = "sample_key",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k per stratum —
    the A-Res scheme (Efraimidis & Spirakis 2006): each row gets key
    u^(1/w) for u ~ Uniform(0,1]; the k largest keys per stratum are an
    exact weighted sample. Here u is a pure function of md5(salt, id), so
    the sample is reproducible across runs, engines, and partitionings —
    same property as :func:`group_reservoir`, with inclusion probability
    proportional to ``weight_col``.

    Keys are compared as ln(u)/w (monotone in u^(1/w), numerically safer
    than the pow form near u→1) with the id as tiebreaker. Rows with
    weight <= 0 or null are excluded — they have inclusion probability 0.

    Scale shape (plan_lint's low-cardinality-window rule flags a
    `row_number() OVER (PARTITION BY strata)` form, which sorts each
    stratum's full row set on one reducer): top-k is a
    mergeable aggregate, so rows are hashed into sub-buckets, each
    (stratum, sub-bucket) keeps a sorted k-slice of (−key, id, payload)
    structs, and the ≤ buckets×k survivors per stratum merge with one more
    bounded sort. Identical output to the window form — (−key, id) is a
    unique sort key, and struct comparison is lexicographic. Per-reducer
    state is one sub-bucket's rows, scaled by the bucket count, never a
    whole stratum. All payload columns must be orderable types (they are
    never actually compared — (−key, id) decides first — but struct
    ordering requires it)."""
    c = F.col(id_col)
    wcol = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    # 13 hex chars = 52 bits → exact double; +1 keeps u in (0, 1] so ln(u)
    # is finite.
    h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, 13), 16, 10)
    u = (h.cast("double") + F.lit(1.0)) / F.lit(float(2**52) + 1.0)
    key = F.log(u) / wcol.cast("double")
    from platform_etl_drug_disease_spark.operators.scans import (
        bounded_top_k_rows,
    )

    keyed = df.where(wcol.isNotNull() & (wcol > 0)).withColumn(key_out, key)
    return bounded_top_k_rows(keyed, [strata_col], [-F.col(key_out), c], k)


def apportion_quota(
    df: DataFrame,
    strata_col: str,
    weight_col: str | Column,
    total: int,
    out: str = "quota",
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment: split an integer budget
    of ``total`` units across strata proportionally to ``weight_col``, with
    the quotas GUARANTEED to sum to exactly ``total`` — the exact-budget
    allocator behind "sample N documents across sources ∝ token mass"
    (floor-only quotas under-shoot; naive rounding over/under-shoots).

    Each stratum gets floor(share·total); the leftover units go to the
    strata with the largest fractional remainders (ties → stratum order).
    Weights must be integral (token/char counts): the whole apportionment
    is then exact integer div/mod — no decimal-division rounding to drift
    between engines. All windows run on the |strata|-row aggregate."""
    from pyspark.sql import Window

    d = "decimal(38,0)"
    wcol = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    agg = df.groupBy(strata_col).agg(F.sum(wcol.cast(d)).alias("_w"))
    tot = agg.agg(F.sum("_w").alias("_tw"))
    j = agg.crossJoin(F.broadcast(tot))
    # exact rational apportionment: num = w·total over denominator tw;
    # base = num div tw and rem = num mod tw are exact integer ops
    num = F.col("_w") * F.lit(total)
    rem = num % F.col("_tw")
    base = ((num - rem) / F.col("_tw")).cast("bigint")  # exact division
    ranked = j.select(
        F.col(strata_col),
        F.col("_w"),
        base.alias("_base"),
        rem.alias("_rem"),
        (F.lit(total) - F.sum(base).over(Window.partitionBy())).alias("_left"),
    )
    rk = F.row_number().over(
        Window.partitionBy().orderBy(F.col("_rem").desc(), F.col(strata_col))
    )
    return (
        ranked.withColumn("_rk", rk)
        .select(
            strata_col,
            (F.col("_base") + F.when(F.col("_rk") <= F.col("_left"), 1).otherwise(0))
            .alias(out),
        )
    )
