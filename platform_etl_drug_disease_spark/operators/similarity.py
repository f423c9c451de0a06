"""Vector-similarity operators over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (cross-join against a small,
broadcast query set); the scale paths are hyperplane-LSH bucketing and IVF
cell partitioning, which turn the n×m cross-join into equi-joins. All vector
math runs in Spark's higher-order array functions — JVM-side, no Python in
the row loop.

Scoring arithmetic is ONE formulation everywhere: unit-normalize each vector
once (``v / ||v||``, left-fold norm), then cosine(a, b) == dot(â, b̂) is a
single left-fold per comparison. Two reasons:

- cost: the HOF folds run interpreted (outside whole-stage codegen), so one
  fold per pair instead of dot + two norms cuts the hot loop to a third, and
  normalization is paid once per ROW instead of once per PAIR;
- determinism: every operator (and the DuckDB oracles) produces bit-identical
  doubles for the same pair, so approximate results are provably subsets of
  exact ones and value-hash checks stay green.

Measured dead end (do not retry): UNROLLING the fold into
``v[1]*p[1] + … + v[64]*p[64]`` arithmetic — nominally codegen-friendly —
is 4-10× SLOWER here. The 64-term trees multiply across the 80 hyperplane
dots of band_keys into >5000-node expressions per row; generated methods
blow past JIT/codegen size limits and Spark falls back to interpreting the
giant tree, which loses to the compact HOF fold it replaced
(embedding_near_dup 7 s → 80 s at sf0.1, knn_cosine_ivf 1.9 s → 7 s).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def as_double(vec: Column | str) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product — deterministic accumulation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, e: acc + e
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def with_unit_vec(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    """Append ``out_col`` = unit-normalized ``vec_col`` (double components).

    The norm is materialized as an intermediate column FIRST: referencing the
    norm fold inside the per-element transform lambda would re-evaluate it per
    element — O(d²) work per row in the interpreted HOF path (a measured
    hidden cost at 64 dims). Zero vectors normalize to null components
    (nullif), which any downstream dot/comparison propagates to null → the
    row drops out of thresholded results in both engines."""
    v = as_double(vec_col)
    return (
        df.withColumn("__l2", l2_norm(v))
        .withColumn(
            out_col,
            F.transform(v, lambda x: x / F.nullif(F.col("__l2"), F.lit(0.0))),
        )
        .drop("__l2")
    )


def knn_bruteforce(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set across the
    candidate corpus, rank per query with a deterministic tie-break.
    Returns (q_id, c_id, cosine_sim, rank)."""
    from pyspark.sql import Window

    qn = with_unit_vec(queries, q_vec, "__qn").select(q_id, "__qn")
    cn = with_unit_vec(candidates, c_vec, "__cn").select(c_id, "__cn")
    pairs = cn.crossJoin(F.broadcast(qn)).where(F.col(q_id) != F.col(c_id))
    scored = pairs.select(
        q_id,
        c_id,
        F.round(dot(F.col("__qn"), F.col("__cn")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy(q_id).orderBy(F.col("cosine_sim").desc(), F.col(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def hyperplanes(dim: int, n_planes: int = 8) -> list[list[float]]:
    """Deterministic pseudo-random Gaussian hyperplanes. Seeded Mersenne
    Twister per plane — platform-stable, so every engine/run sees identical
    constants (they ship into query plans as literals; nothing about the RNG
    needs to be SQL-expressible). Gaussian components give near-independent
    sign bits, unlike smooth sin-derived planes whose correlated bits cost
    LSH recall."""
    import random

    planes = []
    for p in range(n_planes):
        rng = random.Random(1_000_003 * (p + 1))
        planes.append([rng.gauss(0.0, 1.0) for _ in range(dim)])
    return planes


def lsh_sign_bucket(vec_col: str, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: one sign bit per plane. Sign bits are
    normalization-invariant, so raw or unit vectors give the same bucket.
    Generated-SQL for the same construction-cost reason as
    :func:`band_keys` (one parse instead of planes×dim py4j calls)."""
    terms = [
        f"(cast({1 << i} as bigint) * {_plane_bit_sql(vec_col, plane)})"
        for i, plane in enumerate(planes)
    ]
    return F.expr(" + ".join(terms))


def _plane_sql(plane: list[float]) -> str:
    """A hyperplane as a SQL double-array literal. Components go through
    ``cast('<repr>' as double)``: Python ``repr`` is shortest-roundtrip and
    ``Double.parseDouble`` recovers the identical bits, so the JVM sees
    exactly the constants the Column-API ``F.lit`` path shipped."""
    return "array(" + ", ".join(f"cast('{c!r}' as double)" for c in plane) + ")"


def _plane_bit_sql(vec_col: str, plane: list[float]) -> str:
    """Sign bit of the left-fold dot — SQL mirror of ``dot()`` above."""
    return (
        f"CASE WHEN aggregate(zip_with({vec_col}, {_plane_sql(plane)}, "
        f"(x, y) -> x * y), cast(0.0 as double), (acc, e) -> acc + e) >= 0 "
        f"THEN 1 ELSE 0 END"
    )


def band_keys(
    vec_col: str, planes: list[list[float]], n_bands: int, band_bits: int
) -> Column:
    """Banded sign-LSH keys: one packed integer per band of ``band_bits``
    sign bits (MinHash-band-style OR-amplification for cosine). Returns an
    ``array<struct<band:int, key:int>>`` ready to explode into a bucket
    equi-join. Deterministic: plane dot products are IEEE left folds,
    identical across engines, so the keys are SQL-reproducible.

    Built as ONE generated-SQL expression parsed once by the JVM, not as
    nested Column operations: the Column-API form issues a py4j round trip
    per node — 80 planes × 64 literals ≈ 5,000 calls, a measured 4.4 s of
    pure driver-side construction per query (the execution plan is
    identical either way). ``vec_col`` is a column NAME so it can be
    inlined into the expression text."""
    assert len(planes) == n_bands * band_bits
    keys = []
    for b in range(n_bands):
        bit_terms = [
            f"({1 << i} * {_plane_bit_sql(vec_col, planes[b * band_bits + i])})"
            for i in range(band_bits)
        ]
        keys.append(
            f"named_struct('band', cast({b} as int), "
            f"'key', cast({' + '.join(bit_terms)} as int))"
        )
    return F.expr("array(" + ", ".join(keys) + ")")


def banded_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int,
    n_bands: int = 8,
    band_bits: int = 10,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via banded hyperplane-LSH blocking + exact
    cosine verify — the scale shape that replaces a block-wide all-pairs
    self-join (a cartesian-class scale-killer on any large block; the same
    candidate-generation/verify split as MinHash-LSH text dedup).

    Pair semantics: two rows are candidates iff they agree on ALL bits of at
    least ONE band (and match ``block_cols``); candidates are deduplicated
    and then exactly verified (cosine >= threshold). Per-pair match
    probability is ``1-(1-p^band_bits)^n_bands`` with ``p = 1 - angle/pi``.

    Tune bands/bits to the operating threshold: candidate volume on a corpus
    with near-uniform vectors scales as ``n_bands × n² / 2^band_bits`` per
    block, so band_bits is the pruning exponent. The 8×10 default gives a
    1024-way split per band (~60× fewer candidates than 2-bit bands at the
    same plane budget) and keeps near-certain recall for true near-dups
    (cos ≥ 0.95 → p ≥ .93/bit → P(miss) < 1e-7); genuine near-dup thresholds
    (τ ≥ 0.85) are exactly where sign-LSH prunes exponentially. Low
    thresholds (τ ≤ 0.5 on uniform data) are NOT prunable by any sign-LSH —
    use the kNN operators for similarity-graph workloads instead.

    Plan shape: band keys are computed map-side (JVM fold, no Python), the
    candidate join is a shuffle equi-join on (band, key, block_cols) carrying
    only ids, and vectors are re-fetched for the O(candidates) verify —
    vectors never ride the candidate shuffle.
    """
    block_cols = block_cols or []
    planes = hyperplanes(dim, n_bands * band_bits)
    # persist the pruned projection with PRE-NORMALIZED vectors: it fans out
    # 4 ways (both sides of the candidate join + both vector lookups of the
    # verify), and normalizing once at cache-fill time means the per-pair
    # verify needs a single dot fold instead of dot + two norms.
    src = with_unit_vec(df, vec_col, "__nv").select(
        F.col(id_col), *[F.col(c) for c in block_cols], F.col("__nv")
    ).persist()
    keyed = src.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.explode(band_keys("__nv", planes, n_bands, band_bits)).alias("__bk"),
    )
    a = keyed.select(
        F.col(id_col).alias("id_a"), *[F.col(c) for c in block_cols], "__bk"
    )
    b = keyed.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
        F.col("__bk").alias("__bk_b"),
    )
    cond = [a["__bk"] == b["__bk_b"]] + [
        a[c] == b[f"__b_{c}"] for c in block_cols
    ]
    candidates = (
        a.join(b, cond)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *block_cols)
        .distinct()
    )
    va = src.select(F.col(id_col).alias("id_a"), F.col("__nv").alias("__va"))
    vb = src.select(F.col(id_col).alias("id_b"), F.col("__nv").alias("__vb"))
    verified = (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            *block_cols,
            F.round(dot(F.col("__va"), F.col("__vb")), 6).alias("cosine_sim"),
        )
    )
    return verified.where(F.col("cosine_sim") >= threshold)


def knn_lsh(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
) -> DataFrame:
    """Approximate top-k: bucket both sides by hyperplane sign bits, compare
    only within-bucket, rerank exactly. Recall < 1 by construction; the
    bucket-equi-join replaces the cross-join shuffle at scale."""
    from pyspark.sql import Window

    planes = hyperplanes(dim, n_planes)
    qb = with_unit_vec(queries, q_vec, "__qn").withColumn(
        "__bucket", lsh_sign_bucket("__qn", planes)
    )
    cb = with_unit_vec(candidates, c_vec, "__cn").withColumn(
        "__bucket", lsh_sign_bucket("__cn", planes)
    )
    pairs = qb.join(cb, "__bucket").where(F.col(q_id) != F.col(c_id))
    scored = pairs.select(
        q_id,
        c_id,
        F.round(dot(F.col("__qn"), F.col("__cn")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy(q_id).orderBy(F.col("cosine_sim").desc(), F.col(c_id))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _assign_cells(
    dfn: DataFrame,
    id_col: str,
    centsn: DataFrame,
    cent_id: str,
    carry_cols: list[str],
    keep_score: str | None = None,
) -> DataFrame:
    """Nearest-centroid assignment over pre-normalized vectors.

    Scoring is a broadcast cross-join (tiny centroid side), and the argmax is
    a ``max_by`` aggregation rather than a window: the n×C scored rows are
    reduced MAP-SIDE (each row's C scores are produced and folded in place by
    the partial aggregate), so only one row per input id ever reaches the
    shuffle — a window would shuffle all n×C rows to rank them. Tie-break
    (equal rounded cosine → smallest centroid id) matches the oracle's
    ``row_number() OVER (ORDER BY cos DESC, cent_id)``.
    """
    scored = dfn.crossJoin(F.broadcast(centsn)).withColumn(
        "__cos", F.round(dot(F.col("__nv"), F.col("__cnv")), 6)
    )
    order = F.struct(
        F.col("__cos").alias("c"),
        (-F.col(cent_id)).cast("bigint").alias("nid"),
    )
    extra = (
        # max over the same struct order: .c is the winning (rounded) cosine.
        [F.max(order).getField("c").alias(keep_score)] if keep_score else []
    )
    return scored.groupBy(id_col).agg(
        F.max_by(cent_id, order).alias(cent_id),
        *extra,
        *[F.first(c).alias(c) for c in carry_cols],
    )


def knn_ivf(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
    cent_id: str = "cent_id",
    cent_vec: str = "cent_vec",
) -> DataFrame:
    """IVF approximate top-k: candidates are partitioned into centroid cells
    once; each query probes only its ``nprobe`` nearest cells and reranks
    exactly within them.

    At 100 TB this is the index-build/serve split: the cell assignment is the
    (reusable, persistable) index keyed by cent_id, and serving is an
    equi-join on cent_id — query cost scales with probed-cell sizes, never
    the corpus. Each candidate lives in exactly one cell, so no pair dedup
    is needed. The assignment cost is n×C single dot folds reduced map-side
    (see :func:`_assign_cells`); C should grow ~√n (the classic IVF balance
    between assign and probe cost), not linearly with the corpus.
    Returns (q_id, c_id, cosine_sim, rank).
    """
    from pyspark.sql import Window

    # normalize each side once; centroids are tiny and consumed twice (cell
    # assignment + query probing) — persist the normalized projection.
    centsn = (
        with_unit_vec(centroids, cent_vec, "__cnv").select(cent_id, "__cnv").persist()
    )
    candn = with_unit_vec(candidates, c_vec, "__nv").select(c_id, "__nv")
    cells = _assign_cells(candn, c_id, centsn, cent_id, ["__nv"])
    qn = with_unit_vec(queries, q_vec, "__qn").select(q_id, "__qn")
    qscored = qn.crossJoin(F.broadcast(centsn)).withColumn(
        "__cos", F.round(dot(F.col("__qn"), F.col("__cnv")), 6)
    )
    wq = Window.partitionBy(q_id).orderBy(F.col("__cos").desc(), F.col(cent_id))
    probes = (
        qscored.withColumn("__rn", F.row_number().over(wq))
        .where(F.col("__rn") <= nprobe)
        .select(q_id, "__qn", cent_id)
    )
    # the probe set is nq×nprobe rows — broadcast it against the cell index.
    pairs = cells.join(F.broadcast(probes), cent_id).where(F.col(q_id) != F.col(c_id))
    scored = pairs.select(
        q_id,
        c_id,
        F.round(dot(F.col("__qn"), F.col("__nv")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy(q_id).orderBy(F.col("cosine_sim").desc(), F.col(c_id))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id: str = "cent_id",
    cent_vec: str = "cent_vec",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: partition the corpus into
    centroid cells (the same nearest-centroid assignment as IVF), then keep
    ONE representative per cell — the member closest to its centroid
    (highest rounded cosine, smallest id on ties) — and account for the
    rest as semantic duplicates.

    The 100-TB shape is identical to the IVF index build: n×C dot folds
    reduced map-side (one row per vector reaches the shuffle), then a single
    cell-keyed aggregate. No pairwise comparisons anywhere — cost is
    O(n·C + n), never O(n²), which is the entire point of cluster-then-keep
    semantic dedup versus pairwise near-dup.

    Returns one row per cell: (cent_id, kept_id, kept_cos, n_members,
    members_digest) — the digest is md5 over the sorted member ids, proving
    the full cell contents without shipping id arrays through the compare.
    """
    dfn = with_unit_vec(df.select(id_col, vec_col), vec_col, "__nv")
    centsn = with_unit_vec(centroids, cent_vec, "__cnv").select(cent_id, "__cnv")
    assigned = _assign_cells(
        dfn.select(id_col, "__nv"), id_col, centsn, cent_id, [], keep_score="__cos"
    )
    keeper = F.struct(
        F.col("__cos").alias("c"), (-F.col(id_col)).cast("bigint").alias("nid")
    )
    return assigned.groupBy(cent_id).agg(
        F.max_by(F.col(id_col), keeper).alias("kept_id"),
        F.max(keeper).getField("c").alias("kept_cos"),
        F.count(F.lit(1)).alias("n_members"),
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.col(id_col))),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ).alias("members_digest"),
    )


def _mean_centroids(assigned: DataFrame, cent_id: str, vec_col: str) -> DataFrame:
    """Per-dimension exact-decimal mean of the member vectors in each cell,
    re-packed into an array in dimension order — the k-means update step.

    posexplode fans each vector into (cell, dim, component) rows, but the
    map-side partial aggregate collapses them to C×dim partial sums per
    partition before the shuffle, so wire volume is partitions × C × dim —
    independent of n. The decimal accumulator makes the mean order-
    independent (see plans/_util), which keeps the whole fit deterministic
    and therefore oracle-checkable."""
    dims = (
        assigned.select(cent_id, F.posexplode(vec_col).alias("__pos", "__x"))
        .groupBy(cent_id, "__pos")
        .agg(
            (
                F.sum(F.col("__x").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("__m")
        )
    )
    return dims.groupBy(cent_id).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct(F.col("__pos"), F.col("__m")))),
            lambda s: s.getField("__m"),
        ).alias("cent_vec")
    )


def kmeans_fit(
    df: DataFrame,
    centroids: DataFrame,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id: str = "cent_id",
    cent_vec: str = "cent_vec",
) -> tuple[DataFrame, DataFrame]:
    """Distributed spherical k-means (Lloyd's iterations) as pure DataFrame
    algebra — the index-build step that turns stride-sampled IVF seeds into
    learned centroids.

    Each iteration is (a) nearest-centroid assignment — the same map-side
    max_by reduction as IVF, one row per vector to the shuffle — and (b) the
    centroid update in :func:`_mean_centroids` (wire volume independent of
    n). Nothing ever collects to the driver; centroids stay a C-row
    DataFrame that is broadcast into each assignment. Cost per iteration is
    exactly one corpus pass, so the 100-TB plan is n_iters scans of a
    persisted normalized projection.

    Assignment scores round to 6 places and tie-break on centroid id; the
    update accumulates in exact decimal — every iteration is deterministic,
    so the full fit (and its cell memberships) value-hash-matches a SQL
    replay. Returns (centroids_after_n_iters, last_assignment); the last
    assignment is the membership that PRODUCED the final centroids.
    """
    membersn = with_unit_vec(df.select(id_col, vec_col), vec_col, "__nv").select(
        id_col, "__nv"
    ).persist()
    cents = centroids
    assigned = None
    for it in range(n_iters):
        centsn = with_unit_vec(cents, cent_vec, "__cnv").select(cent_id, "__cnv")
        prev = assigned
        # persist each round's assignment: it fans out (centroid update now,
        # plus the caller's membership stats), and the next round's broadcast
        # centroids embed it as a subquery — without the persist every
        # consumer replays the full corpus assignment.
        assigned = _assign_cells(membersn, id_col, centsn, cent_id, ["__nv"]).persist()
        if prev is not None:
            prev.unpersist()
        cents = _mean_centroids(assigned, cent_id, "__nv")
    return cents.persist(), assigned.drop("__nv")


# --------------------------------------------------------------------------
# Product quantization (PQ) — memory-compressed ANN via asymmetric distance
# --------------------------------------------------------------------------


def subspace_rows(df: DataFrame, id_col: str, vec_col: str, m: int, d: int) -> DataFrame:
    """Fan each D-dim vector into ``m`` rows of d-dim double subvectors:
    (id, sub_id ∈ [0, m), sv). A map-only explode — at 100 TB the m×
    row-count blowup stays inside the scan stage (no shuffle) and the
    subvectors are d/D the size of the originals."""
    v = as_double(vec_col)
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda i: F.struct(
            i.cast("int").alias("sub_id"),
            F.slice(v, i * d + 1, d).alias("sv"),
        ),
    )
    out = df.select(id_col, F.explode_outer(subs).alias("__s")).where(
        F.col("__s").isNotNull()
    )
    return out.select(id_col, "__s.sub_id", "__s.sv")


def _l2sq(a: Column, b: Column) -> Column:
    """Rounded squared L2 as one left-fold (same codegen/determinism story
    as the cosine fold above)."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, e: acc + e,
        ),
        6,
    )


def _nearest_code(sub: DataFrame, id_col: str, codebook: DataFrame) -> DataFrame:
    """Per (id, sub_id): the codebook entry with min rounded L2², smallest
    code on ties. Broadcast codebook (m×K rows), max_by reduction — one row
    per (id, sub_id) reaches the shuffle, same shape as _assign_cells."""
    scored = sub.join(F.broadcast(codebook), "sub_id").withColumn(
        "__d", _l2sq(F.col("sv"), F.col("cv"))
    )
    order = F.struct(
        (-F.col("__d")).alias("nd"), (-F.col("code")).cast("bigint").alias("nc")
    )
    return scored.groupBy(id_col, "sub_id").agg(
        F.max_by("code", order).alias("code"),
        F.first("sv").alias("sv"),
    )


def pq_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    d: int = 8,
    n_codes: int = 16,
) -> DataFrame:
    """Train an m-subspace PQ codebook: stride-sampled seeds (code id = seed
    vector id, identical in every subspace) refined by ONE Lloyd's iteration
    with exact-decimal means. Deterministic end to end — rounded distances,
    code-id tie-breaks, order-independent decimal centroid update — so the
    fit value-hash-matches a SQL replay. Returns (sub_id, code, cv).

    100-TB shape: one corpus pass to assign (broadcast m×K codebook,
    map-side max_by), one to update (partial sums per partition; wire volume
    partitions × m × K × d, independent of n)."""
    sub = subspace_rows(df, id_col, vec_col, m, d)
    stride = df.agg(
        F.ceil(F.count(F.lit(1)) / F.lit(n_codes)).cast("bigint").alias("__stride")
    )
    seeds = (
        sub.crossJoin(F.broadcast(stride))
        .where(F.col(id_col) % F.col("__stride") == 0)
        .select("sub_id", F.col(id_col).alias("code"), F.col("sv").alias("cv"))
    )
    assigned = _nearest_code(sub, id_col, seeds)
    dims = (
        assigned.select("sub_id", "code", F.posexplode("sv").alias("__pos", "__x"))
        .groupBy("sub_id", "code", "__pos")
        .agg(
            (
                F.sum(F.col("__x").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("__m")
        )
    )
    return dims.groupBy("sub_id", "code").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("__pos", "__m"))),
            lambda s: s.getField("__m"),
        ).alias("cv")
    )


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    d: int = 8,
) -> DataFrame:
    """Encode each vector as m codes: (id, sub_id, code). This is the PQ
    index — m small ints instead of D floats (64×4B → 8×1B per vector at the
    default geometry), which is what lets a 100 TB corpus's index fit on a
    serving tier."""
    sub = subspace_rows(df, id_col, vec_col, m, d)
    return _nearest_code(sub, id_col, codebook).select(id_col, "sub_id", "code")


def knn_pq_adc(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    k: int = 5,
    m: int = 8,
    d: int = 8,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
) -> DataFrame:
    """Asymmetric-distance top-k: per query, precompute the m×K table of
    rounded L2² distances from its subvectors to every codebook entry, then
    score candidates by summing their m table lookups — never touching
    candidate vectors. The lookup table (nq×m×K rows) broadcasts against the
    code index; the per-candidate sum accumulates in DECIMAL so the total is
    addition-order-independent (oracle-stable) before ranking asc with c_id
    tie-break. Returns (q_id, c_id, approx_dist, rank)."""
    from pyspark.sql import Window

    qsub = subspace_rows(queries, q_id, q_vec, m, d)
    table = (
        qsub.join(F.broadcast(codebook), "sub_id")
        .select(q_id, "sub_id", "code", _l2sq(F.col("sv"), F.col("cv")).alias("__d"))
    )
    scored = (
        codes.join(F.broadcast(table), ["sub_id", "code"])
        .where(F.col(q_id) != F.col(c_id))
        .groupBy(q_id, c_id)
        .agg(
            F.sum(F.col("__d").cast("decimal(18,6)"))
            .cast("double")
            .alias("approx_dist")
        )
    )
    w = Window.partitionBy(q_id).orderBy(F.col("approx_dist").asc(), F.col(c_id))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
