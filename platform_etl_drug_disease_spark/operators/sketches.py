"""Count-min-sketch-pruned exact heavy hitters.

The frequent-items problem at corpus scale: find every key occurring at
least T times in a 100-TB stream whose key cardinality (n-grams, URLs,
hostnames) is far too large to exact-count wholesale — the full
``groupBy(key)`` shuffles one row per distinct key, and at shingle
cardinality that shuffle IS the job. The classic fix is a count-min sketch
(Cormode & Muthukrishnan 2005): d hash rows × w counters, updated
map-side, merged by addition — a few KB of state per executor regardless
of cardinality.

This module composes the sketch with the repo's candidate→verify pattern
so the final answer is EXACT (and therefore value-hash checkable against a
plain ``GROUP BY ... HAVING`` oracle):

1. sketch pass: each occurrence increments d counters; in Spark this is a
   ``groupBy(seed, bucket).count()`` whose map-side partial aggregation
   collapses every partition to ≤ d×w rows — the shuffle carries the
   sketch, never the keys.
2. prune pass: a key with true count ≥ T has ALL d of its counters ≥ T
   (counters only over-count), so occurrences whose d buckets are all
   heavy form a guaranteed superset of the heavy keys' occurrences. The
   heavy-cell sets are tiny (≤ d×w rows) and broadcast; the prune is d
   map-side semi-joins, no shuffle.
3. verify pass: exact ``groupBy(key)`` over the surviving occurrences
   only, then ``HAVING count ≥ T``. False positives (light keys colliding
   into heavy cells on every row) are recounted and dropped here; false
   negatives cannot exist.

Net shuffle: d×w sketch rows + the survivors — at a threshold worth the
name, orders of magnitude below the distinct-key cardinality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cms_heavy_hitters(
    occurrences: DataFrame,
    key_col: str,
    threshold: DataFrame,
    depth: int = 3,
    width: int = 8192,
) -> DataFrame:
    """Exact keys with count ≥ threshold, CMS-pruned as described above.

    ``occurrences`` is the raw stream (one row per occurrence);
    ``threshold`` is a one-row DataFrame with a bigint ``thr`` column so
    data-derived thresholds (e.g. a multiple of the mean frequency) stay
    inside the plan — it is broadcast wherever used. Returns
    ``(key_col, n_occurrences)``, exact.
    """
    occ = occurrences.select(F.col(key_col)).where(F.col(key_col).isNotNull())
    bucket_exprs = [
        F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(width)).cast("int")
        for i in range(depth)
    ]
    rows = occ.select(
        key_col, *[b.alias(f"_b{i}") for i, b in enumerate(bucket_exprs)]
    ).localCheckpoint()

    sketch = (
        rows.select(
            F.posexplode(F.array(*[F.col(f"_b{i}") for i in range(depth)])).alias(
                "_seed", "_bucket"
            )
        )
        .groupBy("_seed", "_bucket")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    heavy_cells = (
        sketch.crossJoin(F.broadcast(threshold))
        .where(F.col("_c") >= F.col("thr"))
        .select("_seed", "_bucket")
        .localCheckpoint()
    )

    survivors = rows
    for i in range(depth):
        cells_i = heavy_cells.where(F.col("_seed") == i).select(
            F.col("_bucket").alias(f"_h{i}")
        )
        survivors = survivors.join(
            F.broadcast(cells_i),
            survivors[f"_b{i}"] == F.col(f"_h{i}"),
            "left_semi",
        )

    return (
        survivors.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .crossJoin(F.broadcast(threshold))
        .where(F.col("n_occurrences") >= F.col("thr"))
        .select(key_col, "n_occurrences")
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join pruning
# ---------------------------------------------------------------------------

def bloom_build(
    keys: DataFrame, key: str, m_bits: int = 1 << 16, k_hashes: int = 5
) -> DataFrame:
    """Mergeable Bloom filter over ``keys[key]`` as ONE row holding an
    ``array<long>`` bitmap of ``m_bits / 64`` words.

    This is the big-big join pruning primitive Spark itself injects with
    runtime bloom filters (SPARK-32268): when the build side is filtered
    but still too large to broadcast as rows, its *bitmap* (fixed
    ``m_bits/8`` bytes — 8 KB at the 2^16 default — regardless of key
    count) can be broadcast instead and probe-side rows dropped BEFORE the
    join shuffle. At 100 TB the shuffle saved on a selective join dwarfs
    the bitmap cost.

    Build is fully distributed and mergeable: each key sets ``k_hashes``
    bit positions (``pmod(xxhash64(key, seed), m_bits)`` — pmod avoids the
    abs(Long.MIN_VALUE) trap); positions group to ≤ ``m_bits/64`` words
    combined with the ``bit_or`` aggregate (map-side partial merge), and
    the word map is re-assembled into a dense array. No driver collect.
    """
    if m_bits % 64 != 0 or m_bits <= 0:
        # a partial final word would silently drop its set bits from the
        # dense array (and probes of those positions would read null),
        # turning the no-false-negative guarantee into false negatives.
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    n_words = m_bits // 64
    pos = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(m_bits)).alias(
                        f"_p{i}"
                    )
                    for i in range(k_hashes)
                ]
            )
        ).alias("_p")
    )
    words = pos.groupBy(F.floor(F.col("_p") / 64).cast("int").alias("_w")).agg(
        # call_function: the Python shiftleft() wrapper only takes an int
        # bit count; the SQL function itself accepts a column expression.
        F.bit_or(
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), F.pmod(F.col("_p"), 64).cast("int")
            )
        ).alias("_bits")
    )
    return words.agg(
        F.map_from_arrays(F.collect_list("_w"), F.collect_list("_bits")).alias("_mw")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            # _mw is a MAP keyed by word index — element_at looks up the key
            # itself (the 1-based convention applies to arrays only).
            lambda w: F.coalesce(F.element_at(F.col("_mw"), w.cast("int")), F.lit(0).cast("long")),
        ).alias("bloom")
    )


def bloom_might_contain(
    bloom: Column, key: Column, m_bits: int = 1 << 16, k_hashes: int = 5
) -> Column:
    """Membership predicate against a :func:`bloom_build` bitmap column.

    All ``k_hashes`` bits must be set. No false negatives by construction;
    false-positive rate ≈ (1 - e^(-k·n/m))^k (n = distinct build keys).
    Pure codegen'd long arithmetic — no UDF in the probe path.
    """
    conds = None
    for i in range(k_hashes):
        p = F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits))
        word = F.element_at(bloom, F.floor(p / 64).cast("int") + 1)
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.pmod(p, 64).cast("int")
        )
        c = word.bitwiseAND(bit) != 0
        conds = c if conds is None else (conds & c)
    return conds


def bloom_prune(
    probe: DataFrame,
    probe_key: str,
    build_keys: DataFrame,
    build_key: str,
    m_bits: int = 1 << 16,
    k_hashes: int = 5,
) -> DataFrame:
    """Drop ``probe`` rows whose key cannot be in ``build_keys`` — a
    map-side pre-shuffle semi-filter (superset of the exact semi-join; pair
    with an exact join downstream for exact results).

    The 1-row bitmap joins in via a broadcast nested loop (one row — free);
    the probe predicate evaluates inside the probe scan's codegen stage, so
    surviving rows are the only ones that ever reach the join shuffle.
    """
    bloom = bloom_build(build_keys, build_key, m_bits, k_hashes)
    probed = probe.join(F.broadcast(bloom))
    keep = bloom_might_contain(
        F.col("bloom"), F.col(probe_key), m_bits, k_hashes
    )
    return probed.where(keep).drop("bloom")
