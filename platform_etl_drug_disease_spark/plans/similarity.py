"""Similarity-search catalog over the ``embeddings`` table: exact brute-force
cosine top-k (baseline), hyperplane-LSH bucketed top-k, IVF cell-partitioned
top-k, and banded-LSH embedding near-dup.

Every operator (and every oracle) scores with ONE arithmetic: unit-normalize
each vector once (left-fold norm, nullif zero), then cosine(a, b) ==
dot(â, b̂) as a single index-ascending left fold. DuckDB reproduces the same
IEEE operations in the same order, so values agree bit-for-bit before
rounding and approximate results are provably subsets of exact ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.operators.similarity import (
    as_double,
    banded_near_dup,
    hyperplanes,
    kmeans_fit,
    knn_bruteforce,
    knn_ivf,
    knn_lsh,
    semantic_dedup,
)
from platform_etl_drug_disease_spark.plans._util import dround
from platform_etl_drug_disease_spark.plans.memo_owners import session_memo
from platform_etl_drug_disease_spark.schemas import (
    ensure_compute_partitions,
    load_table,
)

_DIM = 64


def _load_emb(spark: SparkSession, sf_dir: str, columns: list[str] | None = None):
    """embeddings table with compute-shaped partitioning: the fixture is a
    single small parquet file → one input partition, which would run every
    map-heavy vector stage (n×C assign folds, 80-plane band keys) on one
    core. Repartition by vec_id up to the cluster's slot count when the scan
    arrives skinnier — the same partition-follows-compute rule as
    operators/dedup._shingle_table; a no-op on a well-partitioned corpus."""
    df = load_table(spark, sf_dir, "embeddings", columns)
    return ensure_compute_partitions(df, "vec_id")


# DuckDB unit-normalization and normalized-dot with Spark-identical fold order.
_NORM = (
    f"sqrt(list_reduce(list_transform(range(1, {_DIM} + 1), "
    f"i -> v[i] * v[i]), (x, y) -> x + y))"
)
_NDOT = (
    f"round(list_reduce(list_transform(range(1, {_DIM} + 1), "
    f"i -> {{a}}[i] * {{b}}[i]), (x, y) -> x + y), 6)"
)
# e → n: vectors as unit doubles (the CTE every oracle starts from).
_UNIT_CTES = f"""
e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
n AS (SELECT vec_id, label,
             list_transform(v, x -> x / nullif({_NORM}, 0.0)) AS nv
      FROM e)
"""


def knn_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 neighbours for query vectors (vec_id < 5) by cosine."""
    emb = _load_emb(spark, sf_dir, ["vec_id", "embedding"])
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    candidates = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    return knn_bruteforce(queries, candidates, k=5)


_KNN_SQL = f"""
WITH {_UNIT_CTES},
q AS (SELECT vec_id AS q_id, nv AS qnv FROM n WHERE vec_id < 5),
scored AS (
    SELECT q.q_id, c.vec_id AS c_id,
           {_NDOT.format(a="q.qnv", b="c.nv")} AS cosine_sim
    FROM q JOIN n c ON q.q_id != c.vec_id
), ranked AS (
    SELECT q_id, c_id, cosine_sim,
           CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY cosine_sim DESC, c_id) AS INTEGER) AS rank
    FROM scored
)
SELECT q_id, c_id, cosine_sim, rank FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# embedding near-dup: banded LSH + exact verify over an augmented corpus with
# PLANTED near-duplicates.
# ---------------------------------------------------------------------------

_ND_BANDS, _ND_BITS, _ND_TAU = 8, 10, 0.85
_PLANT_STRIDE, _PLANT_OFFSET = 10, 10_000_000


def _augmented_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table plus a deterministic near-duplicate of every
    ``_PLANT_STRIDE``-th vector: component i scaled by ``1 + 0.01*((i%5)-2)``
    (±2% per-coordinate jitter → cosine ≈ 0.999 to its source). Planting
    gives the near-dup query KNOWN ground-truth pairs at every scale factor —
    the raw table is near-uniform (within-label cosines top out ≈ 0.41), so a
    true near-dup threshold would otherwise return an empty, untestable
    result. The same augmentation is reproduced in the oracle SQL."""
    emb = _load_emb(spark, sf_dir)
    base = emb.select(
        "vec_id", as_double("embedding").alias("embedding"), "label"
    )
    jitter = lambda x, i: x * (  # noqa: E731
        F.lit(1.0) + F.lit(0.01) * ((i % F.lit(5)) - F.lit(2)).cast("double")
    )
    planted = base.where(F.col("vec_id") % _PLANT_STRIDE == 0).select(
        (F.col("vec_id") + F.lit(_PLANT_OFFSET)).alias("vec_id"),
        F.transform("embedding", jitter).alias("embedding"),
        F.col("label"),
    )
    return base.unionByName(planted)


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs at a genuine near-dup threshold
    (τ=0.85): banded hyperplane-LSH candidate generation (8 bands × 10 sign
    bits → 1024-way split per band, same-label blocking) + exact cosine
    verify, over the planted-duplicate corpus (see
    :func:`_augmented_embeddings`).

    Low thresholds are not prunable by sign-LSH (p(τ=0.3)=0.597 vs
    p(random)=0.5: 2-bit bands at τ=0.3 stay quadratic in practice on
    uniform data), so this operates where LSH actually prunes
    exponentially: planted pairs (cos≈0.999, p≈0.986/bit) are recovered
    with P(miss) < 1e-7 per pair, while random pairs survive a band with
    probability ~2^-10.

    Fully deterministic (Gaussian planes as literals, IEEE left folds, ±2%
    literal jitter) → the oracle reproduces candidates AND cosines
    bit-for-bit; the result stays value-hash-checked."""
    return banded_near_dup(
        _augmented_embeddings(spark, sf_dir),
        id_col="vec_id",
        vec_col="embedding",
        threshold=_ND_TAU,
        dim=_DIM,
        n_bands=_ND_BANDS,
        band_bits=_ND_BITS,
        block_cols=["label"],
    )


def _near_dup_sql() -> str:
    """Generate the DuckDB mirror of the banded-LSH near-dup query: the same
    planted augmentation, the same Gaussian planes inlined as literals, the
    same unit-normalization and left-fold dot products, the same band
    packing — identical candidates AND identical cosine bits by
    construction."""
    planes = hyperplanes(_DIM, _ND_BANDS * _ND_BITS)
    bit_exprs = []
    for p, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(c) for c in plane) + "]"
        d = (
            f"list_reduce(list_transform(range(1, {_DIM} + 1), "
            f"i -> nv[i] * ({lit})[i]), (x, y) -> x + y)"
        )
        bit_exprs.append(f"CASE WHEN {d} >= 0 THEN 1 ELSE 0 END AS bit_{p}")
    band_rows = []
    for b in range(_ND_BANDS):
        key = " + ".join(
            f"{1 << i} * bit_{b * _ND_BITS + i}" for i in range(_ND_BITS)
        )
        band_rows.append(
            f"SELECT vec_id, label, {b} AS band, ({key}) AS key FROM bits"
        )
    ndot = _NDOT.format(a="ea.nv", b="eb.nv")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
aug AS (
    SELECT vec_id, v, label FROM e
    UNION ALL
    SELECT vec_id + {_PLANT_OFFSET},
           list_transform(range(1, {_DIM} + 1),
               i -> v[i] * (1.0 + 0.01 * CAST(((i - 1) % 5 - 2) AS DOUBLE))),
           label
    FROM e WHERE vec_id % {_PLANT_STRIDE} = 0
),
n AS (SELECT vec_id, label,
             list_transform(v, x -> x / nullif({_NORM}, 0.0)) AS nv
      FROM aug),
bits AS (SELECT vec_id, label, nv, {", ".join(bit_exprs)} FROM n),
keyed AS ({" UNION ALL ".join(band_rows)}),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, a.label
    FROM keyed a JOIN keyed b
      ON a.band = b.band AND a.key = b.key AND a.label = b.label
     AND a.vec_id < b.vec_id
),
scored AS (
    SELECT c.id_a, c.id_b, c.label, {ndot} AS cosine_sim
    FROM cand c
    JOIN n ea ON ea.vec_id = c.id_a
    JOIN n eb ON eb.vec_id = c.id_b
)
SELECT id_a, id_b, label, cosine_sim FROM scored WHERE cosine_sim >= {_ND_TAU}
"""


_NEAR_DUP_SQL = _near_dup_sql()


def _knn_lsh_sql() -> str:
    """DuckDB mirror of knn_cosine_lsh: the same 4 Gaussian planes inlined
    as literals, sign bits over the SAME unit vectors with the same
    left-fold dot, identical bucket ids, identical rounded rerank —
    upgrades the LSH kNN from rows-only to a full value-hash oracle."""
    planes = hyperplanes(_DIM, 4)
    bit_exprs = []
    for i, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(c) for c in plane) + "]"
        d = (
            f"list_reduce(list_transform(range(1, {_DIM} + 1), "
            f"i -> nv[i] * ({lit})[i]), (x, y) -> x + y)"
        )
        bit_exprs.append(
            f"(CASE WHEN {d} >= 0 THEN {1 << i} ELSE 0 END)"
        )
    bucket = " + ".join(bit_exprs)
    return f"""
WITH {_UNIT_CTES},
b AS (SELECT vec_id, nv, ({bucket}) AS bucket FROM n),
q AS (SELECT vec_id AS q_id, nv AS qnv, bucket FROM b WHERE vec_id < 5),
scored AS (
    SELECT q.q_id, c.vec_id AS c_id,
           {_NDOT.format(a="q.qnv", b="c.nv")} AS cosine_sim
    FROM q JOIN b c USING (bucket)
    WHERE q.q_id != c.vec_id
), ranked AS (
    SELECT q_id, c_id, cosine_sim,
           CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY cosine_sim DESC, c_id) AS INTEGER) AS rank
    FROM scored
)
SELECT q_id, c_id, cosine_sim, rank FROM ranked WHERE rank <= 5
"""


def knn_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-5: 4 sign-bit planes bucket the
    corpus; only within-bucket pairs are scored. Deterministic planes +
    rounded rerank make the whole approximate result value-hash
    reproducible — the oracle regenerates the buckets from the same plane
    literals; recall vs brute force is additionally asserted in tests."""
    emb = _load_emb(spark, sf_dir, ["vec_id", "embedding"])
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    candidates = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    return knn_lsh(queries, candidates, dim=_DIM, k=5, n_planes=4)


def knn_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5: ~√n centroids sampled deterministically from
    the data (every ``ceil(n/ceil(√n))``-th vector id — a k-means stand-in),
    candidates partition into their nearest cell, queries probe the 2 nearest
    cells and rerank exactly. Fully deterministic (rounded cosines + id
    tie-breaks) → value-hash oracle, unlike the LSH variant.

    The centroid count MUST be sublinear in the corpus: a fixed id stride
    (every 50th vector) grows C linearly with n and makes the assign stage
    n×C = O(n²/50) folds — 195 s at sf≈1 vs ~8 s with √n cells. The
    stride is computed declaratively (count aggregate broadcast into the
    filter), no driver-side collect.

    The pruned (vec_id, embedding) projection is persisted: it fans out four
    ways (candidates, queries, the stride count, the centroid filter)."""
    emb = _load_emb(spark, sf_dir, ["vec_id", "embedding"]).persist()
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    candidates = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    stride = emb.agg(
        F.ceil(F.count(F.lit(1)) / F.ceil(F.sqrt(F.count(F.lit(1)))))
        .cast("bigint")
        .alias("__stride")
    )
    centroids = (
        emb.crossJoin(F.broadcast(stride))
        .where(F.col("vec_id") % F.col("__stride") == 0)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec"))
    )
    return knn_ivf(queries, candidates, centroids, k=5, nprobe=2)


_IVF_SQL = f"""
WITH {_UNIT_CTES},
cents AS (
    SELECT vec_id AS cent_id, nv AS cnv FROM n
    WHERE vec_id % (SELECT CAST(CEIL(count(*) / CEIL(SQRT(count(*)))) AS BIGINT)
                    FROM e) = 0
),
assign AS (
    SELECT c.vec_id AS c_id, c.nv AS cvv, ct.cent_id,
           row_number() OVER (
               PARTITION BY c.vec_id
               ORDER BY {_NDOT.format(a="c.nv", b="ct.cnv")} DESC, ct.cent_id
           ) AS rn
    FROM n c, cents ct
),
cells AS (SELECT c_id, cvv, cent_id FROM assign WHERE rn = 1),
q AS (SELECT vec_id AS q_id, nv AS qnv FROM n WHERE vec_id < 5),
probes AS (
    SELECT q_id, qnv, cent_id FROM (
        SELECT q.q_id, q.qnv, ct.cent_id,
               row_number() OVER (
                   PARTITION BY q.q_id
                   ORDER BY {_NDOT.format(a="q.qnv", b="ct.cnv")} DESC, ct.cent_id
               ) AS rn
        FROM q, cents ct
    ) WHERE rn <= 2
),
scored AS (
    SELECT p.q_id, c.c_id,
           {_NDOT.format(a="p.qnv", b="c.cvv")} AS cosine_sim
    FROM probes p JOIN cells c USING (cent_id)
    WHERE p.q_id != c.c_id
),
ranked AS (
    SELECT q_id, c_id, cosine_sim,
           CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY cosine_sim DESC, c_id) AS INTEGER) AS rank
    FROM scored
)
SELECT q_id, c_id, cosine_sim, rank FROM ranked WHERE rank <= 5
"""


def semantic_dedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: √n deterministic centroids (the same
    stride rule as knn_cosine_ivf), every vector assigned to its nearest
    cell, one representative kept per cell (closest to centroid, id
    tie-break). Output is one row per cell with the keeper, its cosine, the
    member count, and an md5 digest of the sorted member ids — cluster-then-
    keep dedup whose cost is O(n·√n) assignment + one aggregate, never a
    pairwise join. Fully deterministic → value-hash oracle."""
    emb = _load_emb(spark, sf_dir, ["vec_id", "embedding"]).persist()
    stride = emb.agg(
        F.ceil(F.count(F.lit(1)) / F.ceil(F.sqrt(F.count(F.lit(1)))))
        .cast("bigint")
        .alias("__stride")
    )
    centroids = (
        emb.crossJoin(F.broadcast(stride))
        .where(F.col("vec_id") % F.col("__stride") == 0)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec"))
    )
    return semantic_dedup(emb, centroids, id_col="vec_id", vec_col="embedding")


_SEMDEDUP_SQL = f"""
WITH {_UNIT_CTES},
cents AS (
    SELECT vec_id AS cent_id, nv AS cnv FROM n
    WHERE vec_id % (SELECT CAST(CEIL(count(*) / CEIL(SQRT(count(*)))) AS BIGINT)
                    FROM e) = 0
),
assign AS (
    SELECT c.vec_id, ct.cent_id,
           {_NDOT.format(a="c.nv", b="ct.cnv")} AS cos,
           row_number() OVER (
               PARTITION BY c.vec_id
               ORDER BY {_NDOT.format(a="c.nv", b="ct.cnv")} DESC, ct.cent_id
           ) AS rn
    FROM n c, cents ct
),
cells AS (SELECT vec_id, cent_id, cos FROM assign WHERE rn = 1),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY cent_id
              ORDER BY cos DESC, vec_id) AS krn
    FROM cells
)
SELECT cent_id,
       MAX(CASE WHEN krn = 1 THEN vec_id END) AS kept_id,
       MAX(CASE WHEN krn = 1 THEN cos END) AS kept_cos,
       CAST(count(*) AS BIGINT) AS n_members,
       md5(list_aggregate(list_transform(list_sort(list(vec_id)),
           x -> CAST(x AS VARCHAR)), 'string_agg', ',')) AS members_digest
FROM ranked GROUP BY cent_id
"""


_KM_K, _KM_ITERS = 16, 2


#: session memo for the 2-iteration spherical k-means fit over the
#: embeddings. ``kmeans_cells`` (the index-build query and the memo's
#: owner) and ``knn_cosine_ivf_kmeans`` (build + serve composition) run
#: the IDENTICAL fit: same stride seeds, same _KM_ITERS, same input. At
#: scale the fitted centroid table is exactly the artifact an ANN platform
#: materializes once and serves from — holds (centroids, assignments),
#: both eagerly checkpointed (centroids: K rows; assignments: one
#: (vec_id, cent_id) pair per vector).
_KMEANS_FIT_CACHE: dict[tuple, tuple[DataFrame, DataFrame]] = {}


@session_memo(_KMEANS_FIT_CACHE, "embeddings")
def _kmeans_fit_artifact(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    emb = _load_emb(spark, sf_dir, ["vec_id", "embedding"]).persist()
    stride = emb.agg(
        F.ceil(F.count(F.lit(1)) / F.lit(_KM_K)).cast("bigint").alias("__stride")
    )
    seeds = (
        emb.crossJoin(F.broadcast(stride))
        .where(F.col("vec_id") % F.col("__stride") == 0)
        .select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
        )
    )
    cents, assigned = kmeans_fit(emb, seeds, n_iters=_KM_ITERS)
    out = (cents.localCheckpoint(), assigned.localCheckpoint())
    emb.unpersist()
    return out


def kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd's iterations of spherical k-means (K≈16, stride-sampled
    seeds) over the embeddings, reported as per-cell stats of the final
    update: member count, member-id sum, and the final centroid's norm.
    Every step is deterministic (rounded assignment scores, exact-decimal
    centroid means), so the whole fit value-hash-matches the SQL replay —
    the learned-centroid index build that feeds IVF at scale."""
    cents, assigned = _kmeans_fit_artifact(spark, sf_dir)
    stats = assigned.groupBy("cent_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("vec_id").alias("id_sum"),
    )
    norms = cents.select(
        "cent_id",
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform("cent_vec", lambda x: x * x),
                    F.lit(0.0),
                    lambda a, e: a + e,
                )
            ),
            6,
        ).alias("c_norm"),
    )
    return stats.join(norms, "cent_id")


def _kmeans_sql() -> str:
    """DuckDB replay of the 2-iteration fit: same stride seeds, same rounded
    cosine assignment with centroid-id tie-break, same exact-decimal
    per-dimension means, same left-fold norms."""
    norm_c = (
        f"sqrt(list_reduce(list_transform(range(1, {_DIM} + 1), "
        f"i -> cv[i] * cv[i]), (x, y) -> x + y))"
    )
    return _kmeans_ctes() + f"""
SELECT c2.cent_id,
       CAST(s.n_members AS BIGINT) AS n_members,
       CAST(s.id_sum AS BIGINT) AS id_sum,
       round({norm_c}, 6) AS c_norm
FROM c2 JOIN (
    SELECT cent_id, count(*) AS n_members, SUM(vec_id) AS id_sum
    FROM m2 GROUP BY cent_id
) s USING (cent_id)
"""


def _kmeans_ctes() -> str:
    """The shared CTE chain of the 2-iteration spherical k-means replay
    (seeds → assign → decimal-mean update, twice), ending at ``c2`` (final
    centroids) and ``m2`` (final membership). Used by both the kmeans_cells
    oracle and the learned-centroid IVF oracle."""
    mean_dim = (
        "CAST(SUM(CAST(nv[r.i] AS DECIMAL(28,12))) AS DOUBLE) / count(*)"
    )
    norm_c = (
        f"sqrt(list_reduce(list_transform(range(1, {_DIM} + 1), "
        f"i -> cv[i] * cv[i]), (x, y) -> x + y))"
    )
    assign = """
    SELECT m.vec_id, c.cent_id,
           row_number() OVER (
               PARTITION BY m.vec_id
               ORDER BY {ndot} DESC, c.cent_id
           ) AS rn
    FROM n m, {cents} c
    """
    ndot0 = _NDOT.format(a="m.nv", b="c.cnv")
    return f"""
WITH {_UNIT_CTES},
seeds AS (
    SELECT vec_id AS cent_id, nv AS cnv FROM n
    WHERE vec_id % (SELECT CAST(CEIL(count(*) / {_KM_K}.0) AS BIGINT) FROM e) = 0
),
a1 AS ({assign.format(ndot=ndot0, cents="seeds")}),
m1 AS (SELECT vec_id, cent_id FROM a1 WHERE rn = 1),
c1dims AS (
    SELECT m1.cent_id, r.i, {mean_dim} AS m
    FROM m1 JOIN n USING (vec_id) CROSS JOIN range(1, {_DIM} + 1) r(i)
    GROUP BY m1.cent_id, r.i
),
c1 AS (
    SELECT cent_id, list(m ORDER BY i) AS cv FROM c1dims GROUP BY cent_id
),
c1n AS (
    SELECT cent_id,
           list_transform(cv, x -> x / nullif({norm_c}, 0.0)) AS cnv
    FROM c1
),
a2 AS ({assign.format(ndot=ndot0, cents="c1n")}),
m2 AS (SELECT vec_id, cent_id FROM a2 WHERE rn = 1),
c2dims AS (
    SELECT m2.cent_id, r.i, {mean_dim} AS m
    FROM m2 JOIN n USING (vec_id) CROSS JOIN range(1, {_DIM} + 1) r(i)
    GROUP BY m2.cent_id, r.i
),
c2 AS (
    SELECT cent_id, list(m ORDER BY i) AS cv FROM c2dims GROUP BY cent_id
)
"""


def knn_cosine_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full index-build + serve composition: 2 Lloyd's iterations learn
    the centroids (kmeans_fit), then IVF serves top-5 neighbours from the
    learned cells (nprobe=2, exact rerank inside probed cells). This is the
    production ANN layout at 100 TB — the fit amortizes over every query
    batch, serving is a cell-keyed equi-join — and the whole composition
    stays deterministic, so it carries a full value-hash oracle."""
    emb = _load_emb(spark, sf_dir, ["vec_id", "embedding"]).persist()
    cents, _ = _kmeans_fit_artifact(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    candidates = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    return knn_ivf(queries, candidates, cents, k=5, nprobe=2)


def _ivf_kmeans_sql() -> str:
    """Learned-centroid IVF replay: the shared k-means CTE chain to ``c2``,
    then the same normalize/assign/probe/rerank CTEs as the stride-seeded
    IVF oracle, with ``c2`` as the centroid table."""
    norm_c = (
        f"sqrt(list_reduce(list_transform(range(1, {_DIM} + 1), "
        f"i -> cv[i] * cv[i]), (x, y) -> x + y))"
    )
    return _kmeans_ctes() + f"""
, c2n AS (
    SELECT cent_id, list_transform(cv, x -> x / nullif({norm_c}, 0.0)) AS cnv
    FROM c2
),
assign3 AS (
    SELECT c.vec_id AS c_id, c.nv AS cvv, ct.cent_id,
           row_number() OVER (
               PARTITION BY c.vec_id
               ORDER BY {_NDOT.format(a="c.nv", b="ct.cnv")} DESC, ct.cent_id
           ) AS rn
    FROM n c, c2n ct
),
cells AS (SELECT c_id, cvv, cent_id FROM assign3 WHERE rn = 1),
q AS (SELECT vec_id AS q_id, nv AS qnv FROM n WHERE vec_id < 5),
probes AS (
    SELECT q_id, qnv, cent_id FROM (
        SELECT q.q_id, q.qnv, ct.cent_id,
               row_number() OVER (
                   PARTITION BY q.q_id
                   ORDER BY {_NDOT.format(a="q.qnv", b="ct.cnv")} DESC, ct.cent_id
               ) AS rn
        FROM q, c2n ct
    ) WHERE rn <= 2
),
scored AS (
    SELECT p.q_id, c.c_id,
           {_NDOT.format(a="p.qnv", b="c.cvv")} AS cosine_sim
    FROM probes p JOIN cells c USING (cent_id)
    WHERE p.q_id != c.c_id
),
ranked AS (
    SELECT q_id, c_id, cosine_sim,
           CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY cosine_sim DESC, c_id) AS INTEGER) AS rank
    FROM scored
)
SELECT q_id, c_id, cosine_sim, rank FROM ranked WHERE rank <= 5
"""


_PQ_M = 16  # subspaces
_PQ_D = _DIM // _PQ_M  # dims per subspace
_PQ_K = 16  # codes per subspace
_PQ_SHORTLIST = 50  # ADC candidates per query before exact rerank


def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, full build+serve+rerank composition:
    unit-normalize, train a 16-subspace ×16-code codebook (stride seeds +
    one exact-decimal Lloyd refinement), encode the corpus as 16 codes per
    vector, shortlist 50 candidates per query by asymmetric distance (each
    query precomputes its 16×16 lookup table; candidates are scored by
    summing table lookups, never touching raw vectors), then exact-rerank
    the shortlist by cosine for the final top-5 — the standard PQ serving
    stack (IVFADC-style shortlist + rerank).

    The 100-TB story is the memory hierarchy: the code index is ~16× smaller
    than the float corpus, ADC scoring joins codes against a broadcast
    lookup table, and exact vector math is paid only on shortlist×nq rows.
    Decimal-summed ADC totals keep the pipeline deterministic enough
    for a value-hash oracle."""
    from platform_etl_drug_disease_spark.operators.similarity import (
        knn_pq_adc as _adc,
        pq_encode,
        pq_fit,
        with_unit_vec,
    )

    # unit-normalize FIRST: L2² on unit vectors is 2−2·cos, so ADC ranking
    # approximates the cosine ranking the exact baseline uses.
    emb = (
        with_unit_vec(
            _load_emb(spark, sf_dir, ["vec_id", "embedding"]), "embedding", "__uv"
        )
        .select("vec_id", F.col("__uv").alias("embedding"))
        .persist()
    )
    codebook = pq_fit(emb, m=_PQ_M, d=_PQ_D, n_codes=_PQ_K).persist()
    codes = pq_encode(emb, codebook, m=_PQ_M, d=_PQ_D)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    shortlist = _adc(
        queries,
        codes.withColumnRenamed("vec_id", "c_id"),
        codebook,
        k=_PQ_SHORTLIST,
        m=_PQ_M,
        d=_PQ_D,
    ).select("q_id", "c_id")
    # exact rerank over shortlist×nq rows only; vectors are already unit, so
    # the fold dot IS the cosine — identical arithmetic to the exact baseline.
    from pyspark.sql import Window

    from platform_etl_drug_disease_spark.operators.similarity import dot

    qv = queries.select("q_id", F.col("q_vec").alias("__qn"))
    cv = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("__cn"))
    scored = (
        shortlist.join(F.broadcast(qv), "q_id")
        .join(cv, "c_id")
        .select(
            "q_id",
            "c_id",
            F.round(dot(F.col("__qn"), F.col("__cn")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine_sim").desc(), F.col("c_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 5)


def _pq_sql() -> str:
    """DuckDB replay of the PQ fit/encode/ADC chain: same stride seeds, same
    rounded-L2² assignments with code-id tie-breaks, same decimal centroid
    means and decimal ADC sums."""
    l2 = (
        f"round(list_reduce(list_transform(range(1, {_PQ_D} + 1), "
        f"i -> ({{a}}[i] - {{b}}[i]) * ({{a}}[i] - {{b}}[i])), "
        f"(x, y) -> x + y), 6)"
    )
    assign = f"""
    SELECT s.vec_id, s.sub_id, c.code,
           row_number() OVER (
               PARTITION BY s.vec_id, s.sub_id
               ORDER BY {l2.format(a="s.sv", b="c.cv")} ASC, c.code
           ) AS rn
    FROM sv s JOIN {{cents}} c USING (sub_id)
    """
    return f"""
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (
    SELECT vec_id, list_transform(v, x -> x / nullif({_NORM}, 0.0)) AS v
    FROM e0
),
sv AS (
    SELECT vec_id, CAST(s.j AS INTEGER) AS sub_id,
           list_transform(range(1, {_PQ_D} + 1), i -> v[s.j * {_PQ_D} + i]) AS sv
    FROM e, range(0, {_PQ_M}) s(j)
),
seeds AS (
    SELECT sub_id, vec_id AS code, sv AS cv FROM sv
    WHERE vec_id % (SELECT CAST(CEIL(count(*) / {_PQ_K}.0) AS BIGINT) FROM e) = 0
),
a1 AS ({assign.format(cents="seeds")}),
m1 AS (SELECT vec_id, sub_id, code FROM a1 WHERE rn = 1),
cbdims AS (
    SELECT m1.sub_id, m1.code, r.i,
           CAST(SUM(CAST(sv.sv[r.i] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
    FROM m1 JOIN sv USING (vec_id, sub_id) CROSS JOIN range(1, {_PQ_D} + 1) r(i)
    GROUP BY m1.sub_id, m1.code, r.i
),
cb AS (SELECT sub_id, code, list(m ORDER BY i) AS cv FROM cbdims GROUP BY sub_id, code),
a2 AS ({assign.format(cents="cb")}),
codes AS (SELECT vec_id, sub_id, code FROM a2 WHERE rn = 1),
q AS (SELECT vec_id AS q_id, sub_id, sv FROM sv WHERE vec_id < 5),
tbl AS (
    SELECT q.q_id, q.sub_id, c.code, {l2.format(a="q.sv", b="c.cv")} AS d
    FROM q JOIN cb c USING (sub_id)
),
scored AS (
    SELECT t.q_id, codes.vec_id AS c_id,
           CAST(SUM(CAST(t.d AS DECIMAL(18,6))) AS DOUBLE) AS approx_dist
    FROM codes JOIN tbl t USING (sub_id, code)
    WHERE t.q_id != codes.vec_id
    GROUP BY t.q_id, codes.vec_id
),
shortr AS (
    SELECT q_id, c_id,
           row_number() OVER (PARTITION BY q_id
                ORDER BY approx_dist ASC, c_id) AS rn
    FROM scored
),
short AS (SELECT q_id, c_id FROM shortr WHERE rn <= {_PQ_SHORTLIST}),
rr AS (
    SELECT s.q_id, s.c_id,
           {_NDOT.format(a="eq.v", b="ec.v")} AS cosine_sim
    FROM short s
    JOIN e eq ON eq.vec_id = s.q_id
    JOIN e ec ON ec.vec_id = s.c_id
),
ranked AS (
    SELECT q_id, c_id, cosine_sim,
           CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY cosine_sim DESC, c_id) AS INTEGER) AS rank
    FROM rr
)
SELECT q_id, c_id, cosine_sim, rank FROM ranked WHERE rank <= 5
"""


_PQ_SQL = _pq_sql()


def embedding_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization audit: per-vector max-abs scale, quantize to
    round(x/scale) ∈ [-127, 127], measure reconstruction RMSE; report per
    label. All per-row HOF arithmetic inside whole-stage codegen — at 100 TB
    this is a map-only pass plus one small per-label aggregate (the real
    pipeline would write the quantized codes; the audit is the testable
    surface). nullif guards the all-zero vector (scale 0 → null stats)."""
    emb = _load_emb(spark, sf_dir)
    v = as_double("embedding")
    zero = F.lit(0.0)
    scale = (
        F.aggregate(v, zero, lambda a, x: F.greatest(a, F.abs(x))) / F.lit(127.0)
    )
    df = emb.select("vec_id", "label", v.alias("v"), F.nullif(scale, zero).alias("s"))
    q = F.transform(F.col("v"), lambda x: F.round(x / F.col("s")))
    err2 = F.aggregate(
        F.zip_with(F.col("v"), q, lambda x, qq: F.pow(x - qq * F.col("s"), F.lit(2.0))),
        zero,
        lambda a, x: a + x,
    )
    per_vec = df.select(
        "label",
        F.col("s").alias("scale"),
        F.sqrt(err2 / F.size(F.col("v"))).alias("rmse"),
    )
    return per_vec.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.round(F.avg("scale"), 6).alias("avg_scale"),
        F.round(F.avg("rmse"), 6).alias("avg_rmse"),
    )


# same fold order as Spark: left-fold max-abs, elementwise round/zip, sqrt.
_QUANT_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
s AS (
    SELECT label, v,
           nullif(list_reduce(list_transform(v, x -> abs(x)),
                              (a, x) -> greatest(a, x)) / 127.0, 0.0) AS s
    FROM e
),
pv AS (
    SELECT label, s,
           sqrt(list_reduce(
                    list_transform(range(1, {_DIM} + 1),
                                   i -> pow(v[i] - round(v[i] / s) * s, 2.0)),
                    (a, x) -> a + x) / {_DIM}) AS rmse
    FROM s
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       round(AVG(s), 6) AS avg_scale,
       round(AVG(rmse), 6) AS avg_rmse
FROM pv GROUP BY label
"""


_KMEANS_SQL = _kmeans_sql()
_IVF_KMEANS_SQL = _ivf_kmeans_sql()



def embedding_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: per-dimension mean of a
    reference snapshot vs a current snapshot (deterministic halves of the
    fixture by vec_id parity; in production, two corpus releases), with the
    absolute mean shift — the data-quality alarm that catches a silently
    retrained/renormalized encoder before 100 TB of vectors get indexed
    against the wrong geometry.

    One pass per snapshot: posexplode → groupBy(dim) with exact-decimal
    means (the kmeans update's arithmetic, so the oracle replays it
    bit-for-bit). Wire volume is dims × partitions, independent of n."""
    emb = _load_emb(spark, sf_dir, ["vec_id", "embedding"]).select(
        "vec_id", as_double("embedding").alias("v")
    )

    def dim_means(df, out):
        return (
            df.select(F.posexplode("v").alias("i", "x"))
            .groupBy("i")
            .agg(
                (
                    F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                    / F.count(F.lit(1))
                ).alias(out)
            )
        )

    ref = dim_means(emb.where(F.col("vec_id") % 2 == 0), "mean_ref")
    cur = dim_means(emb.where(F.col("vec_id") % 2 == 1), "mean_cur")
    return (
        ref.join(cur, "i")
        .select(
            (F.col("i") + 1).cast("int").alias("dim"),
            dround(F.col("mean_ref") + F.lit(1.0), 9).alias("mean_ref_p1"),
            dround(F.col("mean_cur") + F.lit(1.0), 9).alias("mean_cur_p1"),
            dround(F.abs(F.col("mean_cur") - F.col("mean_ref")), 9).alias(
                "abs_drift"
            ),
        )
    )


_DRIFT_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
x AS (
    SELECT vec_id, r.i AS i, v[r.i] AS x
    FROM e CROSS JOIN range(1, {_DIM} + 1) r(i)
),
ref AS (
    SELECT i, CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
    FROM x WHERE vec_id % 2 = 0 GROUP BY i
),
cur AS (
    SELECT i, CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
    FROM x WHERE vec_id % 2 = 1 GROUP BY i
)
SELECT CAST(ref.i AS INTEGER) AS dim,
       floor((ref.m + 1.0) * 1e9 + 0.5) / 1e9 AS mean_ref_p1,
       floor((cur.m + 1.0) * 1e9 + 0.5) / 1e9 AS mean_cur_p1,
       floor(abs(cur.m - ref.m) * 1e9 + 0.5) / 1e9 AS abs_drift
FROM ref JOIN cur USING (i)
"""


def knn_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation AS a distributed query: per query vector, the
    IVF index's recall@5 against the exact ranking and the reciprocal rank
    of the true nearest neighbour — the metrics an index-tuning sweep
    (nlist/nprobe) reads before promoting an index build. Pure composition
    of the two oracle-proven rankers, so the metric itself is value-hash
    checkable (the oracle replays both rankers and the same join)."""
    bf = knn_cosine_bruteforce(spark, sf_dir).select("q_id", "c_id", "rank")
    ivf = knn_cosine_ivf(spark, sf_dir).select(
        "q_id", "c_id", F.col("rank").alias("i_rank")
    )
    joined = bf.join(ivf, ["q_id", "c_id"], "left")
    return joined.groupBy("q_id").agg(
        F.count("i_rank").alias("n_hits"),
        (F.count("i_rank") / F.lit(5.0)).alias("recall_at_5"),
        F.max(
            F.when(
                F.col("rank") == 1,
                F.coalesce(F.lit(1.0) / F.col("i_rank"), F.lit(0.0)),
            )
        ).alias("true_nn_reciprocal_rank"),
    )


_EVAL_SQL = f"""
WITH bf AS (SELECT * FROM ({_KNN_SQL})),
ivf AS (SELECT * FROM ({_IVF_SQL})),
j AS (
    SELECT bf.q_id, bf.rank, ivf.rank AS i_rank
    FROM bf LEFT JOIN ivf ON bf.q_id = ivf.q_id AND bf.c_id = ivf.c_id
)
SELECT q_id, CAST(count(i_rank) AS BIGINT) AS n_hits,
       count(i_rank) / 5.0 AS recall_at_5,
       max(CASE WHEN rank = 1
                THEN COALESCE(1.0 / i_rank, 0.0) END) AS true_nn_reciprocal_rank
FROM j GROUP BY q_id
"""

QUERIES = {
    "kmeans_cells": kmeans_cells,
    "knn_cosine_ivf_kmeans": knn_cosine_ivf_kmeans,
    "semantic_dedup_cells": semantic_dedup_cells,
    "knn_cosine_bruteforce": knn_cosine_bruteforce,
    "embedding_near_dup": embedding_near_dup,
    "knn_cosine_lsh": knn_cosine_lsh,
    "knn_cosine_ivf": knn_cosine_ivf,
    "embedding_quantize_stats": embedding_quantize_stats,
    "knn_pq_adc": knn_pq_adc,
    "embedding_drift_stats": embedding_drift_stats,
    "knn_eval_metrics": knn_eval_metrics,
}

ORACLES = {
    "kmeans_cells": _KMEANS_SQL,
    "knn_cosine_ivf_kmeans": _IVF_KMEANS_SQL,
    "semantic_dedup_cells": _SEMDEDUP_SQL,
    "knn_cosine_bruteforce": _KNN_SQL,
    "embedding_near_dup": _NEAR_DUP_SQL,
    "knn_cosine_lsh": _knn_lsh_sql(),
    "knn_cosine_ivf": _IVF_SQL,
    "embedding_quantize_stats": _QUANT_SQL,
    "knn_pq_adc": _PQ_SQL,
    "embedding_drift_stats": _DRIFT_SQL,
    "knn_eval_metrics": _EVAL_SQL,
}

# ---------------------------------------------------------------------------
# embedding-space benchmark decontamination: corpus vs broadcast probe set
# ---------------------------------------------------------------------------

_DECON_TAU = 0.30


def embedding_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination: flag corpus vectors whose cosine to ANY
    benchmark probe (vec_id < 20 stands in for the eval set) reaches
    ``_DECON_TAU``; report per-label corpus size, flagged count, and the
    worst observed similarity. The embedding-space complement of the n-gram
    ``decontaminate_stats`` — it catches paraphrased benchmark leakage that
    shares no shingle with the probe text.

    Scale shape: ZERO corpus shuffles. Eval benchmarks are small, so the
    probe set is collected into ONE broadcast row (an array of unit
    vectors); every corpus partition scans once, computing max-cosine as a
    JVM HOF fold over that array — corpus×probes work but embarrassingly
    parallel map work, no candidate join, no repartition. The final
    aggregate is |labels| groups. (For probe sets too big to broadcast,
    route through the IVF cell join instead — same verify arithmetic.)
    Per-probe dots are rounded to 1e-6 BEFORE the max so the max is taken
    over identical values in both engines.
    """
    from platform_etl_drug_disease_spark.operators.similarity import (
        dot,
        with_unit_vec,
    )

    emb = _load_emb(spark, sf_dir).persist()  # probes + corpus branches
    unit = with_unit_vec(
        emb.select("vec_id", "label", as_double("embedding").alias("v")),
        "v",
        "nv",
    )
    probes = (
        unit.where(F.col("vec_id") < 20)
        .agg(F.collect_list("nv").alias("probes"))
    )
    corpus = unit.where(F.col("vec_id") >= 20).crossJoin(F.broadcast(probes))
    max_cos = F.array_max(
        F.transform(F.col("probes"), lambda p: F.round(dot(F.col("nv"), p), 6))
    )
    scored = corpus.select("label", max_cos.alias("max_cos"))
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_corpus"),
        F.count(F.when(F.col("max_cos") >= _DECON_TAU, 1)).alias("n_flagged"),
        F.max("max_cos").alias("max_cosine"),
    )


_DECON_SQL = f"""
WITH {_UNIT_CTES},
p AS (SELECT list(nv) AS probes FROM n WHERE vec_id < 20),
scored AS (
    SELECT label,
           list_max(list_transform(probes,
               pr -> round(list_reduce(list_transform(range(1, {_DIM} + 1),
                               i -> nv[i] * pr[i]), (x, y) -> x + y), 6)))
               AS max_cos
    FROM n CROSS JOIN p
    WHERE vec_id >= 20
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_corpus,
       CAST(count(CASE WHEN max_cos >= {_DECON_TAU} THEN 1 END) AS BIGINT)
           AS n_flagged,
       max(max_cos) AS max_cosine
FROM scored GROUP BY label
"""

QUERIES["embedding_decontaminate"] = embedding_decontaminate
ORACLES["embedding_decontaminate"] = _DECON_SQL

# ---------------------------------------------------------------------------
# nearest-centroid classifier evaluation (label centroids → confusion matrix)
# ---------------------------------------------------------------------------


def centroid_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classifier evaluated in-place: per-label
    centroids from exact-decimal per-dimension means, every vector assigned
    to its max-cosine centroid (ties → smaller label), reported as the
    confusion matrix (label, pred_label, n). The quick label-quality /
    separability audit for an embedding table.

    Scale shape: centroid fit is one posexplode + (label, dim) aggregate —
    wire volume labels×dims×partitions, independent of n. Assignment is
    ZERO-shuffle: the |labels| centroids collapse into one broadcast array
    row and the argmax runs as a JVM fold per vector (struct max over
    (rounded cosine, −label) — deterministic in both engines). The
    confusion rollup is a |labels|² aggregate."""
    from platform_etl_drug_disease_spark.operators.similarity import (
        with_unit_vec,
        dot,
    )

    emb = _load_emb(spark, sf_dir).persist()
    base = emb.select("vec_id", "label", as_double("embedding").alias("v"))
    cent = (
        base.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("i"), F.col("m")))
                ),
                lambda s: s["m"],
            ).alias("cv")
        )
    )
    centn = with_unit_vec(cent, "cv", "cnv").select(
        F.col("label").alias("cent_label"), "cnv"
    )
    cent_row = centn.agg(
        F.collect_list(F.struct("cent_label", "cnv")).alias("cents")
    )
    vecs = with_unit_vec(base, "v", "nv").select("vec_id", "label", "nv")
    best = F.array_max(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                F.round(dot(F.col("nv"), c["cnv"]), 6).alias("cos"),
                (-c["cent_label"]).alias("negl"),
                c["cent_label"].alias("pl"),
            ),
        )
    )
    assigned = vecs.crossJoin(F.broadcast(cent_row)).select(
        "label", best["pl"].alias("pred_label")
    )
    return assigned.groupBy("label", "pred_label").agg(
        F.count(F.lit(1)).alias("n")
    )


_CENTROID_EVAL_SQL = f"""
WITH {_UNIT_CTES},
dm AS (
    SELECT label, i, CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE)
                     / count(*) AS m
    FROM e, range(1, {_DIM} + 1) AS r(i)
    GROUP BY label, i
),
cent AS (
    SELECT label AS cent_label, list(m ORDER BY i) AS cv FROM dm GROUP BY label
),
centn AS (
    SELECT cent_label,
           list_transform(v, x -> x / nullif({_NORM}, 0.0)) AS cnv
    FROM (SELECT cent_label, cv AS v FROM cent)
),
cents AS (SELECT list(struct_pack(cent_label := cent_label, cnv := cnv)) AS cs
          FROM centn),
assigned AS (
    SELECT n.label,
           list_max(list_transform(cs, c -> struct_pack(
               cos := {_NDOT.format(a="n.nv", b="c.cnv")},
               negl := -c.cent_label,
               pl := c.cent_label))).pl AS pred_label
    FROM n CROSS JOIN cents
)
SELECT label, pred_label, CAST(count(*) AS BIGINT) AS n
FROM assigned GROUP BY label, pred_label
"""

QUERIES["centroid_classifier_eval"] = centroid_classifier_eval
ORACLES["centroid_classifier_eval"] = _CENTROID_EVAL_SQL


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triplet mining: for each anchor (vec_id < 20)
    take the IVF-approximate top-10 neighbours, split them by label into
    the best POSITIVE (same label, highest cosine) and the hardest
    NEGATIVE (different label, highest cosine), and report the triplet
    margin pos_sim − neg_sim — the mining step that turns a labeled
    embedding table into triplet-loss training data, where "hard" negatives
    (high-similarity, wrong-label) are the examples that actually move the
    model. Missing side → sentinel (-1 id, -2.0 sim), keeping the output
    null-free (nullable ints land as float64 in pandas and break the
    cross-engine hash).

    Scale shape: candidate generation is the SAME index-build/serve split
    as ``knn_cosine_ivf`` (√n cells, nprobe=2) — never a label-blocked or
    all-pairs join. Label lookup then streams the big (vec_id, label)
    projection past the broadcast mined-pair set (bounded |anchors|·k), so
    the fact table is never shuffled; the pick/pivot runs on |anchors|·k
    rows."""
    from platform_etl_drug_disease_spark.operators.similarity import knn_ivf
    from pyspark.sql import Window

    emb = _load_emb(spark, sf_dir).persist()
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    candidates = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    stride = emb.agg(
        F.ceil(F.count(F.lit(1)) / F.ceil(F.sqrt(F.count(F.lit(1)))))
        .cast("bigint")
        .alias("__stride")
    )
    centroids = (
        emb.crossJoin(F.broadcast(stride))
        .where(F.col("vec_id") % F.col("__stride") == 0)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent_vec"),
        )
    )
    topk = knn_ivf(queries, candidates, centroids, k=10, nprobe=2).select(
        "q_id", "c_id", "cosine_sim"
    )
    labels = emb.select("vec_id", "label")
    with_c = labels.join(
        F.broadcast(topk), labels["vec_id"] == topk["c_id"]
    ).select("q_id", "c_id", "cosine_sim", F.col("label").alias("c_label"))
    with_q = labels.join(
        F.broadcast(with_c), labels["vec_id"] == with_c["q_id"]
    ).select(
        "q_id",
        "c_id",
        "cosine_sim",
        "c_label",
        F.col("label").alias("q_label"),
    )
    flagged = with_q.withColumn(
        "is_pos", (F.col("q_label") == F.col("c_label")).cast("int")
    )
    w = Window.partitionBy("q_id", "is_pos").orderBy(
        F.col("cosine_sim").desc(), "c_id"
    )
    picked = flagged.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    pos_sim = F.coalesce(
        F.max(F.when(F.col("is_pos") == 1, F.col("cosine_sim"))), F.lit(-2.0)
    )
    neg_sim = F.coalesce(
        F.max(F.when(F.col("is_pos") == 0, F.col("cosine_sim"))), F.lit(-2.0)
    )
    return picked.groupBy("q_id").agg(
        F.max("q_label").alias("anchor_label"),
        F.coalesce(
            F.max(F.when(F.col("is_pos") == 1, F.col("c_id"))), F.lit(-1)
        )
        .cast("bigint")
        .alias("pos_id"),
        pos_sim.alias("pos_sim"),
        F.coalesce(
            F.max(F.when(F.col("is_pos") == 0, F.col("c_id"))), F.lit(-1)
        )
        .cast("bigint")
        .alias("neg_id"),
        neg_sim.alias("neg_sim"),
        (pos_sim - neg_sim).alias("margin"),
    )


_HARD_NEG_SQL = f"""
WITH {_UNIT_CTES},
cents AS (
    SELECT vec_id AS cent_id, nv AS cnv FROM n
    WHERE vec_id % (SELECT CAST(CEIL(count(*) / CEIL(SQRT(count(*)))) AS BIGINT)
                    FROM e) = 0
),
assign AS (
    SELECT c.vec_id AS c_id, c.nv AS cvv, ct.cent_id,
           row_number() OVER (
               PARTITION BY c.vec_id
               ORDER BY {_NDOT.format(a="c.nv", b="ct.cnv")} DESC, ct.cent_id
           ) AS rn
    FROM n c, cents ct
),
cells AS (SELECT c_id, cvv, cent_id FROM assign WHERE rn = 1),
q AS (SELECT vec_id AS q_id, nv AS qnv FROM n WHERE vec_id < 20),
probes AS (
    SELECT q_id, qnv, cent_id FROM (
        SELECT q.q_id, q.qnv, ct.cent_id,
               row_number() OVER (
                   PARTITION BY q.q_id
                   ORDER BY {_NDOT.format(a="q.qnv", b="ct.cnv")} DESC, ct.cent_id
               ) AS rn
        FROM q, cents ct
    ) WHERE rn <= 2
),
scored AS (
    SELECT p.q_id, c.c_id,
           {_NDOT.format(a="p.qnv", b="c.cvv")} AS cosine_sim
    FROM probes p JOIN cells c USING (cent_id)
    WHERE p.q_id != c.c_id
),
ranked AS (
    SELECT q_id, c_id, cosine_sim,
           row_number() OVER (PARTITION BY q_id
                ORDER BY cosine_sim DESC, c_id) AS rank
    FROM scored
),
topk AS (SELECT q_id, c_id, cosine_sim FROM ranked WHERE rank <= 10),
lab AS (
    SELECT t.q_id, t.c_id, t.cosine_sim,
           cl.label AS c_label, ql.label AS q_label
    FROM topk t
    JOIN e cl ON cl.vec_id = t.c_id
    JOIN e ql ON ql.vec_id = t.q_id
),
picked AS (
    SELECT *, CASE WHEN q_label = c_label THEN 1 ELSE 0 END AS is_pos,
           row_number() OVER (
               PARTITION BY q_id, CASE WHEN q_label = c_label THEN 1 ELSE 0 END
               ORDER BY cosine_sim DESC, c_id) AS rn
    FROM lab
)
SELECT q_id,
       MAX(q_label) AS anchor_label,
       CAST(COALESCE(MAX(CASE WHEN is_pos = 1 THEN c_id END), -1) AS BIGINT)
           AS pos_id,
       COALESCE(MAX(CASE WHEN is_pos = 1 THEN cosine_sim END), -2.0)
           AS pos_sim,
       CAST(COALESCE(MAX(CASE WHEN is_pos = 0 THEN c_id END), -1) AS BIGINT)
           AS neg_id,
       COALESCE(MAX(CASE WHEN is_pos = 0 THEN cosine_sim END), -2.0)
           AS neg_sim,
       COALESCE(MAX(CASE WHEN is_pos = 1 THEN cosine_sim END), -2.0)
         - COALESCE(MAX(CASE WHEN is_pos = 0 THEN cosine_sim END), -2.0)
           AS margin
FROM picked WHERE rn = 1
GROUP BY q_id
"""

QUERIES["hard_negative_mining"] = hard_negative_mining
ORACLES["hard_negative_mining"] = _HARD_NEG_SQL


def embedding_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-separability audit for a labeled embedding table: per label the
    within-class mean squared deviation (trace of the within-class scatter /
    n), the squared shift of the class centroid from the global centroid
    (trace of the between-class contribution), and their Fisher-style ratio
    — the one-table answer to "are these labels actually separable in this
    embedding space?", the go/no-go check before training a classifier on it.

    Scale shape: ONE posexplode + (label, dim) aggregate collapses the
    corpus to a |labels|×dims moment table (exact decimal sums, map-side
    combined, order-independent); everything after — global centroid,
    per-dim terms, the ordered left-fold over dims that keeps the float
    reduction deterministic (same _NDOT fold contract) — runs on that tiny
    table. The corpus is scanned once, shuffled never (the posexplode agg is
    the only exchange)."""
    from pyspark.sql import Window

    emb = _load_emb(spark, sf_dir, ["vec_id", "embedding", "label"])
    base = emb.select("label", F.posexplode(as_double("embedding")).alias("i", "x"))
    d = "decimal(25,9)"
    dm = base.groupBy("label", "i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d)).alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast(d)).alias("sx2"),
    )
    g = dm.groupBy("i").agg(
        F.sum("n").alias("gn"), F.sum("sx").alias("gsx")
    )
    sxd = F.col("sx").cast("double")
    terms = dm.join(g, "i").select(
        "label",
        "i",
        "n",
        (F.col("sx2").cast("double") - sxd * sxd / F.col("n")).alias("tw"),
        (
            (sxd / F.col("n") - F.col("gsx").cast("double") / F.col("gn"))
            * (sxd / F.col("n") - F.col("gsx").cast("double") / F.col("gn"))
        ).alias("sh"),
    )
    per = terms.groupBy("label").agg(
        F.max("n").alias("n_vecs"),
        F.array_sort(F.collect_list(F.struct("i", "tw"))).alias("twl"),
        F.array_sort(F.collect_list(F.struct("i", "sh"))).alias("shl"),
    )
    fold = lambda arr, field: F.aggregate(
        F.transform(arr, lambda s: s[field]), F.lit(0.0), lambda a, b: a + b
    )
    wmsd = F.round(fold(F.col("twl"), "tw") / F.col("n_vecs"), 6)
    between2 = F.round(fold(F.col("shl"), "sh"), 6)
    return per.select(
        "label",
        F.col("n_vecs").cast("bigint").alias("n_vecs"),
        wmsd.alias("wmsd"),
        between2.alias("between2"),
        F.round(between2 / F.nullif(wmsd, F.lit(0.0)), 6).alias("fisher"),
    )


_SEPARABILITY_SQL = f"""
WITH e AS (SELECT embedding::DOUBLE[] AS v, label FROM embeddings),
dm AS (
    SELECT label, i, count(*) AS n,
           SUM(CAST(v[i] AS DECIMAL(25,9))) AS sx,
           SUM(CAST(v[i] * v[i] AS DECIMAL(25,9))) AS sx2
    FROM e, range(1, {_DIM} + 1) AS r(i)
    GROUP BY label, i
),
g AS (SELECT i, SUM(n) AS gn, SUM(sx) AS gsx FROM dm GROUP BY i),
terms AS (
    SELECT d.label, d.i, d.n,
           CAST(d.sx2 AS DOUBLE)
             - CAST(d.sx AS DOUBLE) * CAST(d.sx AS DOUBLE) / d.n AS tw,
           (CAST(d.sx AS DOUBLE) / d.n - CAST(g.gsx AS DOUBLE) / g.gn)
             * (CAST(d.sx AS DOUBLE) / d.n - CAST(g.gsx AS DOUBLE) / g.gn)
               AS sh
    FROM dm d JOIN g USING (i)
),
per AS (
    SELECT label, MAX(n) AS n_vecs,
           list(tw ORDER BY i) AS twl, list(sh ORDER BY i) AS shl
    FROM terms GROUP BY label
)
SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
       round(list_reduce(twl, (x, y) -> x + y) / n_vecs, 6) AS wmsd,
       round(list_reduce(shl, (x, y) -> x + y), 6) AS between2,
       round(round(list_reduce(shl, (x, y) -> x + y), 6)
             / nullif(round(list_reduce(twl, (x, y) -> x + y) / n_vecs, 6),
                      0.0), 6) AS fisher
FROM per
"""

QUERIES["embedding_separability"] = embedding_separability
ORACLES["embedding_separability"] = _SEPARABILITY_SQL


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss projection recall: dimension reduction before ANN
# ---------------------------------------------------------------------------

_JL_K = 16


def _jl_signs() -> list[tuple[int, int, int]]:
    """(i, j, s) entries of the 64×16 Achlioptas ±1 projection matrix —
    seeded Mersenne Twister, 1-based indices, shipped into BOTH engines as
    literals (the R matrix is the shared constant, never recomputed)."""
    import random

    rng = random.Random(424_243)
    return [
        (i, j, 1 if rng.random() < 0.5 else -1)
        for i in range(1, _DIM + 1)
        for j in range(1, _JL_K + 1)
    ]


def jl_projection_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of brute-force cosine kNN in a 16-dim Johnson–Lindenstrauss
    ±1 projection vs the exact 64-dim answer — the measurement a similarity
    stack runs before shipping dimension reduction ahead of ANN (4× fewer
    bytes per vector ⇒ 4× cheaper index and scan; this query prices the
    recall that buys).

    Scale shape: the projection is matrix multiply as JOIN-AGGREGATE —
    explode (vec, i, component), broadcast-join the 1024-row ±1 sign table,
    one (vec, j) sum — the shape that scales to any corpus and any output
    dimension, instead of a 16×64-term generated expression tree (a
    codegen-ladder pathology). Query set is the standard 5-vector
    broadcast; both top-5 passes are the allowlisted broadcast
    cross-products every kNN baseline here uses.

    Determinism: unit components quantized once onto a 1e-9 integer grid →
    the projected vectors are EXACT BIGINTs on both engines; every cosine
    is then the proven index-ordered left fold over identical values.

    Runs over the planted-near-dup corpus (queries = the 5 smallest planted
    sources, twin = source + offset at cosine ≈ 0.999) and reports BOTH
    recall@5 and whether the twin survived projection: on this fixture's
    otherwise near-uniform vectors (next-best cosine ≈ 0.4), tail recall is
    honestly low — 64→16 scrambles hairline rankings — while the twin's
    LARGE gap survives every time, which is precisely the JL guarantee
    (distortion ~ √(ln n / k) breaks ties, not true neighbors) and the
    property a near-dup/ANN pre-reduction actually relies on.
    """
    from platform_etl_drug_disease_spark.operators.similarity import (
        knn_bruteforce,
        with_unit_vec,
    )

    # persist: consumed by the projection chain AND both sides of the exact
    # top-5 — without it the augmentation union re-scans the parquet per
    # consumer (the lint sweep counts 16 scans)
    emb = (
        _augmented_embeddings(spark, sf_dir).select("vec_id", "embedding").persist()
    )
    is_query = (F.col("vec_id") % _PLANT_STRIDE == 0) & (
        F.col("vec_id") < 5 * _PLANT_STRIDE
    )
    # zero-norm guard: a zero vector unit-normalizes to an array
    # of NULL components; without a symmetric filter DuckDB would keep the
    # doc as a NULL-cos_p candidate row while Spark's sum-over-NULLs path
    # diverges. Both engines drop nv[first] IS NULL rows before projecting.
    nv = (
        with_unit_vec(emb, "embedding", "nv")
        .select("vec_id", "nv")
        .where(F.col("nv").getItem(0).isNotNull())
    )
    ex = nv.select(
        "vec_id", F.posexplode("nv").alias("i0", "x")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.floor(F.col("x") * F.lit(1e9) + F.lit(0.5)).cast("bigint").alias("xq"),
    )
    # the 16×d literal sign table as a SQL inline table: it analyzes to a
    # LocalRelation (same VALUES literal the oracle uses), so the broadcast
    # build below collects driver-side with no scan job — the old
    # parallelize path shipped it as an ExistingRDD of pickled rows. The
    # all-NULL sentinel row (dropped by the folding limit()) keeps the
    # merged inline-table schema nullable, byte-identical to the previous
    # createDataFrame("i int, j int, s int") schema.
    signs = _jl_signs()
    vals = ", ".join(f"({i}, {j}, {s})" for i, j, s in signs)
    r = spark.sql(
        "SELECT * FROM (VALUES "
        + vals
        + ", (CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS INT))"
        + ") AS t(i, j, s)"
    ).limit(len(signs))
    proj = (
        ex.join(F.broadcast(r), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("xq") * F.col("s")).cast("bigint").alias("p"))
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "p"))), lambda e: e["p"]
            ).alias("pv")
        )
        # tiny (n × 16 bigints) and consumed by both the query and the
        # candidate side of the projected top-5
        .persist()
    )
    pq = proj.where(is_query).select(
        F.col("vec_id").alias("q_id"), F.col("pv").alias("qv")
    )
    pc = proj.select(F.col("vec_id").alias("c_id"), F.col("pv").alias("cv"))
    fdot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    qv, cv = F.col("qv"), F.col("cv")
    # cos_p is SIGNED and feeds the row_number rank order, so it cannot use
    # built-in round (engine-specific half-boundary behavior — the exact
    # divergence class dround documents; dround itself is non-negative-only).
    # floor(x*1e6 + 0.5)/1e6 is IEEE-exact and negative-consistent on both
    # engines, same as the DSIR log-ratio treatment. The
    # escored/_NDOT exact side deliberately keeps mirroring knn_bruteforce's
    # documented pre-existing rounding so the two stay bit-identical.
    cos_p = (
        F.floor(
            fdot(qv, cv)
            / F.nullif(F.sqrt(fdot(qv, qv)) * F.sqrt(fdot(cv, cv)), F.lit(0.0))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    pairs = pc.crossJoin(F.broadcast(pq)).where(F.col("q_id") != F.col("c_id"))
    w = Window.partitionBy("q_id").orderBy(F.col("cos_p").desc(), F.col("c_id"))
    proj_top = (
        pairs.select("q_id", "c_id", cos_p.alias("cos_p"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("q_id", "c_id")
    )
    queries = emb.where(is_query).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    candidates = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    exact_top = knn_bruteforce(queries, candidates, k=5).select("q_id", "c_id")
    hits = proj_top.join(exact_top, ["q_id", "c_id"], "left_semi")
    # twin flag = twin present in the PROJECTED top-5 (regardless of where
    # it ranks exactly) — the retention claim the docstring makes.
    twin = proj_top.where(
        F.col("c_id") == F.col("q_id") + F.lit(_PLANT_OFFSET)
    ).select("q_id", F.lit(1).alias("__tw"))
    return (
        exact_top.select("q_id")
        .distinct()
        .join(
            hits.groupBy("q_id").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_hits")
            ),
            "q_id",
            "left",
        )
        .join(twin, "q_id", "left")
        .na.fill({"n_hits": 0, "__tw": 0})
        .select(
            "q_id",
            "n_hits",
            (F.col("n_hits").cast("double") / F.lit(5.0)).alias("recall_at5"),
            F.col("__tw").cast("bigint").alias("twin_in_top5"),
        )
    )


def _jl_sql() -> str:
    vals = ", ".join(f"({i}, {j}, {s})" for i, j, s in _jl_signs())
    fdot = (
        "list_reduce(list_transform(range(1, {k} + 1), "
        "ii -> CAST({a}[ii] AS DOUBLE) * CAST({b}[ii] AS DOUBLE)), "
        "(x, y) -> x + y)"
    )
    pdot = lambda a, b: fdot.format(k=_JL_K, a=a, b=b)  # noqa: E731
    q_pred = (
        f"q.vec_id % {_PLANT_STRIDE} = 0 AND q.vec_id < {5 * _PLANT_STRIDE}"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
aug AS (
    SELECT vec_id, v, label FROM e
    UNION ALL
    SELECT vec_id + {_PLANT_OFFSET},
           list_transform(range(1, {_DIM} + 1),
               i -> v[i] * (1.0 + 0.01 * CAST(((i - 1) % 5 - 2) AS DOUBLE))),
           label
    FROM e WHERE vec_id % {_PLANT_STRIDE} = 0
),
n AS (SELECT vec_id, label,
             list_transform(v, x -> x / nullif({_NORM}, 0.0)) AS nv
      FROM aug),
r_m(i, j, s) AS (VALUES {vals}),
xq AS (
    -- zero-norm guard, symmetric with the Spark side's isNotNull filter
    SELECT vec_id, r.range AS i,
           CAST(floor(nv[r.range] * 1e9 + 0.5) AS BIGINT) AS xq
    FROM n, range(1, {_DIM} + 1) r
    WHERE nv[1] IS NOT NULL
),
proj AS (
    SELECT vec_id, j, CAST(SUM(xq * s) AS BIGINT) AS p
    FROM xq JOIN r_m USING (i) GROUP BY vec_id, j
),
parr AS (SELECT vec_id, list(p ORDER BY j) AS pv FROM proj GROUP BY vec_id),
pscored AS (
    -- floor-based signed rounding, bit-identical to the Spark side (built-in
    -- round() half-boundaries are engine-specific on signed values)
    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           floor({pdot("q.pv", "c.pv")}
                 / nullif(sqrt({pdot("q.pv", "q.pv")})
                          * sqrt({pdot("c.pv", "c.pv")}), 0.0)
                 * 1e6 + 0.5) / 1e6 AS cos_p
    FROM parr q JOIN parr c
      ON {q_pred} AND q.vec_id != c.vec_id
),
proj_top AS (
    SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_p DESC, c_id) AS rank
        FROM pscored
    ) WHERE rank <= 5
),
escored AS (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           {_NDOT.format(a="q.nv", b="c.nv")} AS cosine_sim
    FROM n q JOIN n c
      ON {q_pred} AND q.vec_id != c.vec_id
),
exact_top AS (
    SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cosine_sim DESC, c_id) AS rank
        FROM escored
    ) WHERE rank <= 5
)
SELECT e.q_id,
       CAST(COALESCE(SUM(CASE WHEN p.c_id IS NOT NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_hits,
       COALESCE(SUM(CASE WHEN p.c_id IS NOT NULL THEN 1 ELSE 0 END), 0)
           / 5.0 AS recall_at5,
       -- twin-in-PROJECTED-top-5, independent of its exact-top rank (must
       -- match the Spark semantics even when 5 closer vectors push the twin
       -- out of the exact top-5)
       CAST(COALESCE(MAX(tw.tw), 0) AS BIGINT) AS twin_in_top5
FROM exact_top e
LEFT JOIN proj_top p ON e.q_id = p.q_id AND e.c_id = p.c_id
LEFT JOIN (SELECT q_id, 1 AS tw FROM proj_top
           WHERE c_id = q_id + {_PLANT_OFFSET}) tw ON e.q_id = tw.q_id
GROUP BY e.q_id
"""


QUERIES["jl_projection_recall"] = jl_projection_recall
ORACLES["jl_projection_recall"] = _jl_sql()
