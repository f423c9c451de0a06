"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
n-gram Jaccard and containment, connected components, repeated spans.

Design for 100 TB:
- exact dedup is a hash-groupBy (one shuffle on a 16-byte key, never on the
  full text);
- near-dup never compares all pairs: candidates come from LSH band buckets
  (MinHash) or shared-shingle blocking (Jaccard), then only candidates get
  verified — the standard shingle→minhash→band→bucket-join pipeline;
- all hashes are md5-derived so results are deterministic and reproducible
  across engines (the DuckDB oracle runs the identical pipeline).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from platform_etl_drug_disease_spark.operators.joins import symmetrize
from platform_etl_drug_disease_spark.operators.text import with_shingles


def exact_dedup_clusters(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate clusters by content hash: per hash, the surviving
    (minimum) id and the duplicate count. O(1) state per cluster."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def lsh_band_keys(signature: Column, n_bands: int, rows_per_band: int) -> Column:
    """Split a signature into bands; each band key is the concatenation of
    its rows. Docs sharing ANY band key become candidate pairs."""
    return F.array(
        *[
            F.concat_ws(
                "#",
                F.lit(str(b)),
                *[
                    F.element_at(signature, b * rows_per_band + r + 1)
                    for r in range(rows_per_band)
                ],
            )
            for b in range(n_bands)
        ]
    )


def _shingle_table(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(id, sh) table of non-empty shingle arrays for a corpus.

    The projection is repartitioned by id when the input has fewer partitions
    than the cluster has slots: shingling + hashing is the CPU-heavy stage,
    and a corpus that arrives as one fat file (or a handful) would otherwise
    serialize it on one core — partition count must follow compute, not input
    file layout. When the input is already well-partitioned (the 100-TB case)
    this is a no-op.

    Deliberately NO ``where(size(sh) > 0)`` here: Catalyst pushes such a
    filter below the projection, which duplicates the whole (interpreted,
    HOF-based) shingle expression — once for the predicate, once for the
    output — doubling the CPU cost of the heaviest stage (measured 2–5× at
    sf0.1). Empty shingle arrays are harmless downstream: ``explode`` drops
    them and every consumer joins inner on ids that came from exploded rows.
    """
    from platform_etl_drug_disease_spark.schemas import ensure_compute_partitions

    src = ensure_compute_partitions(
        df.select(F.col(id_col), F.col(text_col)), id_col
    )
    return with_shingles(src, text_col, shingle_n).select(F.col(id_col), F.col("sh"))


def minhash_seeds(n: int) -> list[int]:
    """Fixed 60-bit XOR mixers for the minhash family — seeded Mersenne
    Twister per slot, platform-stable, shipped into plans (and the DuckDB
    oracles) as literals."""
    import random

    return [random.Random(1_000_003 * (i + 7)).getrandbits(60) for i in range(n)]


def banded_signatures(
    sh: DataFrame, id_col: str, n_hashes: int = 16, n_bands: int = 4
) -> DataFrame:
    """(id, band_key) rows — the REUSABLE LSH index of a shingled corpus.

    The signature is computed in exploded form — one (id, shingle) row per
    shingle, ``n_hashes`` min-aggregates under one groupBy — NOT as nested
    array-transform lambdas (HOF lambdas run interpreted; the same hashes as
    plain aggregates stay codegen'd: 40× at sf0.1). At 100 TB this table IS
    the dedup index: persist/write it once per corpus snapshot, and match
    any new batch against it without touching corpus text again
    (:func:`incremental_minhash_matches`).

    Hash family: ONE md5 per shingle (60-bit integer from the first 15 hex
    chars), then ``min(h XOR r_i)`` per slot with fixed random mixers — XOR
    with a constant is a bijection on the 60-bit universe, so each slot
    behaves as an independent min-wise permutation of the same base hash.
    This replaces the earlier ``min(md5(seed||s))`` family: n_hashes× fewer
    md5 evaluations on the corpus-dominant stage (the md5 is the expensive
    part; the XORs are single codegen'd long ops). 60 bits keeps the
    universe far above any real shingle cardinality (2^60 ≫ 10^12 distinct
    shingles at 100 TB), where a 28-bit truncation would saturate min-hash
    estimates with collisions.
    """
    rows_per_band = n_hashes // n_bands
    seeds = minhash_seeds(n_hashes)
    ex = sh.select(F.col(id_col), F.explode("sh").alias("s")).select(
        F.col(id_col),
        F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("__h"),
    )
    sig = ex.groupBy(id_col).agg(
        *[
            F.min(F.col("__h").bitwiseXOR(F.lit(seeds[i]))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    )
    return sig.select(
        F.col(id_col),
        F.explode(
            lsh_band_keys(
                F.array(*[F.col(f"h{i}") for i in range(n_hashes)]),
                n_bands,
                rows_per_band,
            )
        ).alias("band_key"),
    )


def _candidates_from_shingles(
    sh: DataFrame, id_col: str, n_hashes: int, n_bands: int
) -> DataFrame:
    """minhash → band → bucket-join candidate pairs (id_a < id_b) over an
    existing (id, sh) shingle table (see :func:`banded_signatures` for the
    signature plan shape)."""
    banded = banded_signatures(sh, id_col, n_hashes, n_bands)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def _count_intersections(
    cand: DataFrame,
    ex_a: DataFrame,
    ex_b: DataFrame,
    a: str = "id_a",
    b: str = "id_b",
) -> DataFrame:
    """Exact set-intersection sizes for a candidate pair set: candidates ⋈
    exploded(A) ⋈ exploded(B) counted per pair IS |sh_A ∩ sh_B| (shingle
    arrays are distinct per doc), shipping narrow (pair, key) rows instead
    of array payloads — the verify shape shared by the whole dedup family
    and mirrored verbatim in every DuckDB oracle (a change here must change
    them all, which is why it lives in ONE place).
    ``ex_a``/``ex_b`` are (alias, shingle) rows; keys may be raw strings or
    hashes, as long as both sides agree."""
    return (
        cand.join(ex_a, a)
        .join(ex_b, [b, "shingle"])
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias("__inter"))
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates verified with exact Jaccard —
    computed ONLY for candidate pairs, via per-pair array intersection.

    This is the load-bearing scale property of MinHash+LSH: exact-verify work
    is O(candidates), never O(shingle-sharing pairs). (An earlier version
    verified against the full shared-shingle pair table and was ~50× slower
    at sf0.1 — caught by a catalog timing run.)

    The shingle table is built ONCE and checkpointed — it feeds the banded
    self-join (2 consumers) and the exploded verify; without the checkpoint
    the source is scanned 4× (caught by plan_lint).

    Verify ships NO arrays: shingle arrays are distinct per doc, so joining
    candidates against the exploded (id, shingle) rows of both sides and
    counting per pair IS the exact intersection (union follows from per-doc
    sizes). On a duplicate-dense corpus (sf≈1 replica bench: 248k candidate
    pairs × ~53-shingle docs) the earlier ``array_intersect`` verify moved
    ~650 MB of array payload through the shuffle; the count verify moves
    O(candidates × |sh|) narrow rows instead.
    """
    sh = _shingle_table(df, id_col, text_col, shingle_n).localCheckpoint()
    cands = _candidates_from_shingles(sh, id_col, n_hashes, n_bands)
    ex_a = sh.select(
        F.col(id_col).alias("id_a"), F.explode("sh").alias("shingle")
    )
    ex_b = sh.select(
        F.col(id_col).alias("id_b"), F.explode("sh").alias("shingle")
    )
    inter_cnt = _count_intersections(cands, ex_a, ex_b)
    sizes = sh.select(F.col(id_col), F.size("sh").alias("__sz"))
    inter = F.col("__inter").cast("double")
    union = (F.col("__sz_a") + F.col("__sz_b")).cast("double") - inter
    return (
        inter_cnt.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("__sz").alias("__sz_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("__sz").alias("__sz_b")),
            "id_b",
        )
        .withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def incremental_minhash_matches(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.5,
    new_shingles: DataFrame | None = None,
    corpus_shingles: DataFrame | None = None,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Continuous-ingestion dedup: match a NEW batch against an EXISTING
    corpus — candidates only where a new doc and a corpus doc share an LSH
    band key, then exact count-verified Jaccard. Returns
    (new_id, corpus_id, jaccard ≥ threshold).

    The serve-path property: per-batch cost scales with the batch size and
    bucket collision counts, never with corpus size — no corpus self-join
    exists anywhere in the plan. At 100 TB the corpus side of this join is
    the PERSISTED index snapshot (:func:`banded_signatures` output plus the
    exploded (id, shingle) table, both written once per corpus version);
    with no prebuilt index both are computed from text per call.
    ``corpus_shingles``/``corpus_bands`` accept those prebuilt PERSISTED
    snapshot pieces so a multi-batch caller (the streaming twin's
    foreachBatch) pays the corpus-sized work ONCE per snapshot, not per
    micro-batch; ``new_shingles`` likewise lets the caller own (and
    unpersist) the batch-side shingle table.
    New-batch-internal duplicates are a separate :func:`minhash_lsh_dedup`
    over the (small) batch.
    """
    if new_shingles is not None:
        new_sh = new_shingles
    else:
        new_sh = _shingle_table(new_df, id_col, text_col, shingle_n).localCheckpoint()
    if corpus_shingles is not None:
        corpus_sh = corpus_shingles
    else:
        corpus_sh = _shingle_table(corpus_df, id_col, text_col, shingle_n).localCheckpoint()
    nb = banded_signatures(new_sh, id_col, n_hashes, n_bands)
    cb = (
        corpus_bands
        if corpus_bands is not None
        else banded_signatures(corpus_sh, id_col, n_hashes, n_bands)
    )
    cands = (
        nb.select(F.col(id_col).alias("new_id"), "band_key")
        .join(
            cb.select(F.col(id_col).alias("corpus_id"), "band_key"),
            "band_key",
        )
        .select("new_id", "corpus_id")
        .distinct()
    )
    ex_n = new_sh.select(
        F.col(id_col).alias("new_id"), F.explode("sh").alias("shingle")
    )
    ex_c = corpus_sh.select(
        F.col(id_col).alias("corpus_id"), F.explode("sh").alias("shingle")
    )
    inter_cnt = _count_intersections(cands, ex_n, ex_c, a="new_id", b="corpus_id")
    sz_n = new_sh.select(
        F.col(id_col).alias("new_id"), F.size("sh").alias("__sz_n")
    )
    sz_c = corpus_sh.select(
        F.col(id_col).alias("corpus_id"), F.size("sh").alias("__sz_c")
    )
    inter = F.col("__inter").cast("double")
    union = (F.col("__sz_n") + F.col("__sz_c")).cast("double") - inter
    return (
        inter_cnt.join(sz_n, "new_id")
        .join(sz_c, "corpus_id")
        .withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components by hash-min label propagation: every node starts
    labeled with itself; each round replaces a node's label with the min over
    itself and its neighbours' labels; converged when no label changes.
    Returns ``(node, component)`` where component = min node id reachable.

    The canonical post-LSH step: near-dup PAIRS become duplicate CLUSTERS
    (keep component-min, drop the rest).

    Scale notes: each round is one equi-join + one min-aggregation — all
    shuffle-partitioned by node id, no driver-side graph. ``localCheckpoint``
    truncates the per-round lineage so the plan doesn't grow exponentially.
    Rounds needed = graph diameter; near-dup graphs are quasi-cliques
    (diameter 2-4) so this converges in a handful of rounds. A graph whose
    labels still change after ``max_iter`` rounds (a long chain) RAISES
    rather than returning unconverged labels.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = symmetrize(e, "a", "b").distinct().persist()
    # seed with min(self, direct neighbours) — one aggregation, saves a round.
    labels = e.groupBy("a").agg(F.least(F.first("a"), F.min("b")).alias("comp")).localCheckpoint()
    converged = False
    for _ in range(max_iter):
        nbr = (
            e.join(labels.select(F.col("a").alias("b"), F.col("comp").alias("nc")), "b")
            .groupBy("a")
            .agg(F.min("nc").alias("nc"))
        )
        # carry the previous label through the checkpoint so the convergence
        # test is a scan of the checkpointed result, not a second join job.
        new = (
            labels.withColumnRenamed("comp", "old")
            .join(nbr, "a", "left")
            .select("a", F.least("old", F.coalesce("nc", F.col("old"))).alias("comp"), "old")
            .localCheckpoint()
        )
        converged = new.where(F.col("comp") != F.col("old")).limit(1).count() == 0
        labels = new.drop("old")
        if converged:
            break
    e.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components: labels still changing after "
            f"max_iter={max_iter} rounds; raise max_iter"
        )
    return labels.select(F.col("a").alias("node"), F.col("comp").alias("component"))


def _min_inter(sz: Column, threshold: float) -> Column:
    """Smallest integer intersection satisfying ``inter / sz ≥ threshold``:
    ``ceil(τ·sz − 1e-6)``. The 1e-6 slack absorbs float representation error
    in BOTH directions safely: if τ·sz is truly an integer m, the computed
    double lands within ±ulp of m and ``ceil(m − 1e-6) = m`` regardless of
    rounding direction; if it is truly non-integral, the slack can only pull
    the ceil DOWN by one, which loosens the bound (more candidates, never
    fewer) — lossless either way."""
    return F.ceil(sz.cast("double") * F.lit(threshold) - F.lit(1e-6)).cast("int")


def _prefix_len(sz: Column, threshold: float) -> Column:
    """PPJoin prefix length ``sz − ⌈τ·sz⌉ + 1``, integer-exact.

    Losslessness: a qualifying pair needs ``inter ≥ ⌈τ·sz⌉`` elements of the
    sz-element ranked list, so missing an entire prefix of this length caps
    the intersection at ``sz − prefix_len = ⌈τ·sz⌉ − 1 < τ·sz`` — at least
    one prefix element must be shared. The naive float form
    ``floor(sz·(1−τ)) + 1`` silently evaluates ``1−0.8`` as
    0.19999999999999996, making the prefix one element SHORT for every sz
    that is a multiple of 5 at τ=0.8 (e.g. sz=5 → 1, lossless needs 2) and
    dropping boundary-containment pairs. ``_min_inter``'s
    epsilon errs toward a LONGER prefix, which only adds candidates."""
    return sz - _min_inter(sz, threshold) + 1


def _resolve_shingle_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    cols: list[Column],
    block_col: str | None,
    shingles: DataFrame | None,
) -> DataFrame:
    """The ``shingles=`` reuse-hook resolution shared by the pair family:
    a prebuilt (checkpointed, unblocked) table is projected for free, else
    the table is built here, lazily (the caller persists it for its join
    and size lookup, and releases it once its pairs are checkpointed). No
    ``size(sh) > 0`` filter — see :func:`_shingle_table` for why."""
    if shingles is not None and block_col is not None:
        raise ValueError("a prebuilt shingle table carries no block column")
    if shingles is not None:
        return shingles.select(
            F.col(id_col), F.col("sh"), F.size("sh").alias("__sz")
        )
    keep = cols + [F.col(text_col)]
    return with_shingles(df.select(*keep), text_col, shingle_n).select(
        *cols, F.col("sh"), F.size("sh").alias("__sz")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    max_shingle_df: int | None = 256,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs via PREFIX-FILTERED shingle blocking
    (the PPJoin prefix principle) with an exact count-based verify.

    Candidate generation: two docs can have Jaccard ≥ τ only if they share
    at least one shingle among each doc's ``|sh| − ⌈τ·|sh|⌉ + 1`` RAREST
    (integer-exact, :func:`_prefix_len`) shingles (global order = ascending document frequency, shingle text as
    tie-break) — rarer-prefix overlap is a necessary condition, so the
    filter is lossless for the thresholded output. The self-join therefore
    runs only over prefix rows: join fan-out is Σ_s df_prefix(s)², and
    prefix membership deliberately concentrates on LOW-df shingles, so the
    quadratic term collapses (measured 23× → ~3× data-scaling on a
    duplicate-heavy corpus at sf≈1). ``max_shingle_df`` additionally drops
    pathological stop-phrase shingles from prefixes (never from values).

    Verification is exact over ALL shingles, hot included, and ships no
    arrays: shingle arrays are distinct per doc (shingles_from_tokens), so
    ``candidates ⋈ exploded_a ⋈ exploded_b`` grouped by pair COUNTS the true
    intersection; union follows from per-doc sizes. O(candidates × |sh|)
    narrow rows, never O(n²) and never array-width shuffle bytes.

    Returns checkpointed (id_a, id_b, jaccard ≥ threshold), rounded to 6.

    ``shingles``: optional prebuilt ``(id_col, sh)`` table (the
    :func:`_shingle_table` shape, unblocked only) — pass a checkpointed
    one to share the tokenize/shingle work with another consumer (e.g. the
    MinHash candidate side of a recall audit) instead of computing it twice.
    """
    from pyspark.sql import Window

    cols = [F.col(id_col)] + ([F.col(block_col)] if block_col else [])
    sh = _resolve_shingle_table(
        df, id_col, text_col, shingle_n, cols, block_col, shingles
    )
    if shingles is None:
        sh.persist()  # read by the exploded join and the size lookup
    # Shingles ride every downstream shuffle as 8-byte xxhash64 keys, not
    # ~25-byte strings: the verify fan-out (candidates × |sh| rows) is the
    # dominant shuffle, and long keys cut its bytes ~3× and make the joins/
    # aggregations integer-keyed. Collision risk is birthday-bounded over
    # the DISTINCT shingle vocabulary (~272k at sf≈1 → P ≈ 4e-9); a
    # collision would merge two shingles corpus-wide, which both candidate
    # generation and verify would see consistently. The canonical prefix
    # order becomes (df, hash) — any consistent global order keeps the
    # prefix filter lossless, so the thresholded output (and the oracle,
    # which orders by (df, text)) is unchanged.
    exploded = sh.select(
        *cols, F.col("__sz"), F.explode("sh").alias("__s")
    ).select(*cols, F.col("__sz"), F.xxhash64("__s").alias("shingle"))
    freq = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    if max_shingle_df is not None:
        freq = freq.where(F.col("__df") <= max_shingle_df)
    # rank each doc's shingles by global rarity; keep the prefix. The join
    # with freq doubles as the hot-shingle drop (inner join ⇒ capped-out
    # shingles never enter prefixes). Window shuffle is keyed by doc id —
    # the same key the signature/verify stages already shuffle on.
    w = Window.partitionBy(F.col(id_col)).orderBy("__df", "shingle")
    wc = Window.partitionBy(F.col(id_col))
    prefix_len = _prefix_len(F.col("__sz"), threshold)
    pref = (
        exploded.join(freq, "shingle")
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__szc", F.count(F.lit(1)).over(wc))
        .where(F.col("__rn") <= prefix_len)
        .select(*cols, "shingle", "__rn", "__szc", "__sz")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    # PPJoin-style positional upper bound, evaluated from the prefix join
    # alone. Shingle lists are ranked in one GLOBAL canonical order (df,
    # shingle), so every common element canonically before the LAST common
    # prefix element is itself a common prefix element — hence
    #   |A∩B over ranked shingles| ≤ c_p + min(szc_a − max_rn_a,
    #                                          szc_b − max_rn_b)
    # (c_p common prefix elements, then only the post-max tails can match),
    # and capped-out (hot) shingles add at most min(sz − szc) per side.
    # Pairs whose bound cannot reach the Jaccard-τ intersection floor
    # τ/(1+τ)·(sz_a+sz_b) are dropped BEFORE the verify join — lossless by
    # construction (it only removes pairs the jaccard filter would drop), so
    # the oracle needs no mirror of the bound. On a replica-dense corpus this
    # prunes the coincidental single-shared-shingle candidates (ub ≈ 1 +
    # |prefix| < floor), which were ~98% of the verify fan-out.
    pairj = (
        a.join(b, cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("__cp"),
            F.max("a.__rn").alias("__il"),
            F.max("b.__rn").alias("__jl"),
            F.first("a.__szc").alias("__szc_a"),
            F.first("b.__szc").alias("__szc_b"),
            F.first("a.__sz").alias("__fsz_a"),
            F.first("b.__sz").alias("__fsz_b"),
        )
    )
    ub = (
        F.col("__cp")
        + F.least(
            F.col("__szc_a") - F.col("__il"), F.col("__szc_b") - F.col("__jl")
        )
        + F.least(
            F.col("__fsz_a") - F.col("__szc_a"),
            F.col("__fsz_b") - F.col("__szc_b"),
        )
    )
    # ε guards float round-off: τ/(1+τ)·(7+7) computes to 4.000000000000001
    # in doubles while the true floor is exactly 4 — without the slack an
    # integer ub of 4 would be wrongly pruned. Keeping a borderline pair is
    # harmless (verify re-filters); dropping one loses output.
    inter_floor = (
        F.lit(threshold / (1.0 + threshold))
        * (F.col("__fsz_a") + F.col("__fsz_b"))
        - F.lit(1e-6)
    )
    cand = pairj.where(ub.cast("double") >= inter_floor).select("id_a", "id_b")
    ex_a = exploded.select(F.col(id_col).alias("id_a"), F.col("shingle"))
    ex_b = exploded.select(F.col(id_col).alias("id_b"), F.col("shingle"))
    inter_cnt = _count_intersections(cand, ex_a, ex_b)
    sizes = sh.select(F.col(id_col), F.col("__sz"))
    inter = F.col("__inter").cast("double")
    union = (F.col("__sz_a") + F.col("__sz_b")).cast("double") - inter
    out = (
        inter_cnt.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("__sz").alias("__sz_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("__sz").alias("__sz_b")),
            "id_b",
        )
        .withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    ).localCheckpoint()
    if shingles is None:
        sh.unpersist()
    return out


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
    block_col: str | None = None,
    max_shingle_df: int | None = 256,
    shingles: DataFrame | None = None,
    contained_pred: Column | None = None,
) -> DataFrame:
    """EXACT (id_a, id_b, containment ≥ threshold) pairs by shingle
    containment ``c(A,B) = |sh(A) ∩ sh(B)| / |sh(A)|`` — the ASYMMETRIC
    near-dup relation, lossless prefix-filtered. Symmetric Jaccard
    structurally misses size-skewed duplication (a doc quoted whole inside
    a 10× larger aggregator page has J ≈ 0.1 at any useful threshold but
    containment ≈ 1.0), and that wrapped-inclusion pattern is a major
    residual duplicate class in web training corpora after Jaccard/MinHash
    passes. This is the exact-truth side of the family;
    :func:`containment_minhash_topk` is the sub-quadratic 100-TB candidate
    path, and the catalog's ``containment_recall_audit`` prices the gap.

    Candidate generation is the PPJoin prefix principle adapted to the
    one-sided constraint: ``c(A,B) ≥ τ`` forces B to share at least one of
    A's ``|sh_A| − ⌈τ·|sh_A|⌉ + 1`` globally-RAREST shingles (if B misses
    the whole prefix, the intersection is at most ``|sh_A| − prefix_len <
    τ·|sh_A|``; integer-exact via :func:`_prefix_len` — the float form is
    one short at |sh_A| multiples of 5), so the join runs
    A-prefix × all-docs — and because every
    prefix shingle passed the ``max_shingle_df`` cap, the B side per join
    key is at most ``max_shingle_df`` rows: candidate fan-out is
    Σ_A prefix_len(A) × df ≤ cap, never corpus². Unlike the Jaccard join
    there is NO prefix on B (containment puts no constraint on the
    container's size — that asymmetry is the point). As in
    :func:`jaccard_pairs`, the df cap bounds prefix membership only
    (documented contract: a doc whose shingles are almost all hotter than
    the cap can miss containers); verification counts the TRUE intersection
    over ALL shingles, hot included, so reported values are exact.

    Output is the full thresholded pair set (unbounded on replica-dense
    corpora — c(A,B)=1 both ways inside exact-dup clusters); catalog-facing
    consumers use :func:`containment_topk` for the bounded k·n contract, or
    aggregate immediately (the recall audit). Returns checkpointed
    (id_a, id_b, containment) rows, containment rounded to 6 places.

    ``shingles``: optional prebuilt ``(id_col, sh)`` table (the
    :func:`_shingle_table` shape, unblocked only) — pass a checkpointed
    one to share the tokenize/shingle work with another consumer (the
    MinHash candidate side of the recall audit, a co-running Jaccard pass)
    instead of computing it twice; mirrors ``jaccard_pairs(shingles=)``.

    ``contained_pred``: optional boolean Column over the id column that
    restricts the CONTAINED (A) side — the prefix rows and therefore the
    candidate join — to the docs it selects, while df counts, the B side,
    and the verify stay full-corpus. The output is then EXACTLY the subset
    of the full relation with ``contained_pred(id_a)`` true (every pruning
    rule is per-A-doc, so dropping A docs drops only their pairs): the
    hook the sampled recall audit uses to put the exact-truth stage on a
    deterministic Horvitz–Thompson doc sample at ~p× cost."""
    from pyspark.sql import Window

    cols = [F.col(id_col)] + ([F.col(block_col)] if block_col else [])
    sh = _resolve_shingle_table(
        df, id_col, text_col, shingle_n, cols, block_col, shingles
    )
    if shingles is None:
        sh.persist()  # read by the exploded join and the size lookup
    # 8-byte hashed shingle keys for every shuffle, as in jaccard_pairs
    # (same birthday-bounded collision argument; the oracle joins on raw
    # shingle text — any consistent key gives identical counts).
    exploded = sh.select(
        *cols, F.col("__sz"), F.explode("sh").alias("__s")
    ).select(*cols, F.col("__sz"), F.xxhash64("__s").alias("shingle"))
    freq = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    if max_shingle_df is not None:
        freq = freq.where(F.col("__df") <= max_shingle_df)
    w = Window.partitionBy(F.col(id_col)).orderBy("__df", "shingle")
    prefix_len = _prefix_len(F.col("__sz"), threshold)
    # contained-side restriction BEFORE the prefix window: df comes from the
    # full-corpus freq table, so sampled-A prefixes are identical to their
    # full-run prefixes — only fewer of them.
    pref_src = exploded if contained_pred is None else exploded.where(contained_pred)
    pref = (
        pref_src.join(freq, "shingle")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= prefix_len)
        .select(*cols, "shingle", "__sz")
    )
    a, b = pref.alias("a"), exploded.alias("b")
    # size prune, lossless by arithmetic: c(A,B) ≥ τ needs |A∩B| ≥ τ·|sh_A|,
    # and |A∩B| ≤ |sh_B| — so a container smaller than τ·|sh_A| can never
    # qualify. Applied INSIDE the candidate join, it kills the coincidental
    # shared-rare-shingle pairs with small B before they reach the verify
    # fan-out (the verify costs O(candidates × |sh_A|); measured 52.3 s →
    # see the catalog query docstring for the post-prune number at sf≈1 on
    # the replica-dense corpus). The 1e-6 slack mirrors jaccard_pairs'
    # inter_floor guard against float round-off at exact boundaries.
    cond = (
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        & (
            F.col("b.__sz").cast("double")
            >= F.lit(threshold) * F.col("a.__sz") - F.lit(1e-6)
        )
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    cand = (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    ex_a = exploded.select(F.col(id_col).alias("id_a"), F.col("shingle"))
    ex_b = exploded.select(F.col(id_col).alias("id_b"), F.col("shingle"))
    inter = _count_intersections(cand, ex_a, ex_b)
    sizes = sh.select(F.col(id_col).alias("id_a"), F.col("__sz").alias("__sz_a"))
    out = (
        inter.join(sizes, "id_a")
        .withColumn(
            "containment",
            F.round(F.col("__inter").cast("double") / F.col("__sz_a"), 6),
        )
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    ).localCheckpoint()
    if shingles is None:
        sh.unpersist()
    return out


def containment_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
    k: int = 3,
    block_col: str | None = None,
    max_shingle_df: int | None = 256,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-doc top-``k`` containers from the EXACT :func:`containment_pairs`
    relation, bounded at k·n from the start (an all-pairs result is
    output-bound on replica-dense corpora): per contained doc, its k strongest containers
    by (containment DESC, container id ASC), cut with the mergeable
    :func:`~platform_etl_drug_disease_spark.operators.scans.bounded_top_k_rows`
    — no per-doc window over an unbounded pair set. Returns
    (id_a, id_b, containment) rows, ≤ k per id_a."""
    from platform_etl_drug_disease_spark.operators.scans import bounded_top_k_rows

    scored = containment_pairs(
        df,
        id_col,
        text_col,
        shingle_n=shingle_n,
        threshold=threshold,
        block_col=block_col,
        max_shingle_df=max_shingle_df,
        shingles=shingles,
    )
    return bounded_top_k_rows(
        scored, ["id_a"], [-F.col("containment"), F.col("id_b")], k=k
    )


def _hot_shingle_hashes(sh: DataFrame, max_df: int) -> DataFrame:
    """(__h) rows of shingles with document frequency > ``max_df``, keyed by
    the 60-bit md5 hash the slot-row universe uses — the PERSISTABLE
    hot-list of a corpus snapshot. Shipped alongside the slot-row index so
    incremental matchers can put their batch side in the SAME signature
    universe as the index (df is counted on the hash; a collision merges
    two shingles' df consistently on both engines — the documented
    birthday argument)."""
    ex = sh.select(F.explode("sh").alias("s")).select(
        F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("__h")
    )
    return (
        ex.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") > max_df)
        .select("__h")
    )


def minhash_slot_rows(
    sh: DataFrame,
    id_col: str,
    n_hashes: int = 16,
    max_shingle_df: int | None = 256,
    hot_hashes: DataFrame | None = None,
) -> DataFrame:
    """(id, __sz, slot, val) rows — one row per MinHash signature slot of
    each doc, the index shape of single-slot (r=1) LSH.

    Same hash family as :func:`banded_signatures` (one md5 per shingle →
    60-bit int, ``min(h XOR seed_i)`` per slot, :func:`minhash_seeds`
    literals shared with the DuckDB oracles) and the same exploded
    aggregate plan shape (codegen'd min-aggregates under one groupBy, never
    nested HOF lambdas — the 40× finding). ``__sz`` is the FULL
    distinct-shingle count (size prunes reason about true sizes), computed
    before the df cap.

    ``max_shingle_df`` drops HOT shingles (document frequency above the
    cap) before the minima are taken — the load-bearing difference from the
    banded (r=4) index, where a boilerplate shingle in one slot still needs
    3 more slot agreements to collide. Under r=1 a boilerplate shingle that
    hashes low under some mixer becomes the slot-min of every doc carrying
    it, and the bucket join then emits a QUADRATIC-in-boilerplate-mass
    candidate set (measured: 92.7× candidates for 10× data on a corpus
    where 30% of docs share one 8-token phrase). With the cap, every slot
    key's pre-image is one concrete shingle shared by every doc in the
    bucket, so bucket size ≤ the shingle's df ≤ cap: total candidate mass
    is Σ_s df_prefix-style, linear in corpus size with a cap-bounded
    constant — the same Σ df² structure (and the same contract) as the
    exact prefix path's ``max_shingle_df``.
    Docs whose shingles are ALL hotter than the cap emit no rows (exact-dup
    clusters wider than the cap saturate every shingle's df — run exact
    dedup first, the documented pipeline order).

    ``hot_hashes``: an explicit (__h) hot-list to exclude INSTEAD of
    computing one from ``sh``'s own df — pass the INDEX corpus's persisted
    :func:`_hot_shingle_hashes` when signing an incremental batch, so both
    sides share one signature universe (a batch-local df would keep
    corpus-hot boilerplate in the batch's minima, and those slots can never
    match any index value — a silent recall loss below the advertised
    1−(1−J)^n curve)."""
    seeds = minhash_seeds(n_hashes)
    ex = sh.select(
        F.col(id_col), F.size("sh").alias("__sz"), F.explode("sh").alias("s")
    ).select(
        F.col(id_col),
        F.col("__sz"),
        F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("__h"),
    )
    if hot_hashes is None and max_shingle_df is not None:
        # df counted on the 60-bit hash (a collision would merge two
        # shingles' df consistently on both engines — the oracle counts on
        # raw text, same birthday argument as the verify keys).
        hot_hashes = (
            ex.groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_shingle_df)
            .select("__h")
        )
    if hot_hashes is not None:
        # the hot set is tiny (frequency tail) → broadcast anti-join.
        ex = ex.join(F.broadcast(hot_hashes), "__h", "left_anti")
    sig = ex.groupBy(id_col).agg(
        F.first("__sz").alias("__sz"),
        *[
            F.min(F.col("__h").bitwiseXOR(F.lit(seeds[i]))).alias(f"h{i}")
            for i in range(n_hashes)
        ],
    )
    return sig.select(
        F.col(id_col),
        F.col("__sz"),
        F.posexplode(F.array(*[F.col(f"h{i}") for i in range(n_hashes)])).alias(
            "slot", "val"
        ),
    )


def containment_minhash_candidates(
    sh: DataFrame,
    id_col: str,
    threshold: float = 0.8,
    n_hashes: int = 16,
    max_shingle_df: int | None = 256,
    max_slot_df: int | None = 32,
    contained_pred: Column | None = None,
) -> DataFrame:
    """Sub-quadratic candidate (id_a, id_b) pairs for the CONTAINMENT
    relation — the 100-TB sibling of :func:`containment_pairs`' exact
    one-sided prefix join, mirroring how MinHash+LSH is the scale path of
    exact Jaccard. The exact prefix join's fan-out is Σ_A prefix·df —
    df-capped per key but linear in Σprefix; this stage is
    signature-bucket-bounded instead and never touches shingle rows for
    candidate generation.

    Scheme: single-slot (r=1, b=n_hashes) MinHash LSH. A pair collides iff
    ANY signature slot agrees; per slot P(agree) = J(A,B), so P(candidate)
    = 1 − (1 − J)^n. Containment pairs can have LOW Jaccard at HIGH size
    skew — c(A,B) ≥ τ only bounds ``J ≥ τ/(1 + R − τ)`` with R = |B|/|A| —
    which is exactly why the banded (r=4) Jaccard scheme is wrong here: at
    R = 8 and τ = 0.8, J can be ~0.1, where 1−(1−J⁴)⁴ ≈ 0.0004 but the
    single-slot curve still gives 1−(1−J)^16 ≈ 0.81. Recall therefore
    decays with size skew by design; the catalog's
    ``containment_recall_audit`` prices the measured recall per
    (containment decile × size-ratio stratum) against this closed-form
    bound, and the exact path remains the truth source.

    Three pruning rules:
    - lossless size prune: |A∩B| ≤ |sh_B| and c ≥ τ force |sh_B| ≥ τ·|sh_A|
      (the 1e-6 slack mirrors the exact path's float-boundary guard);
    - ``max_shingle_df``: hot shingles never enter the signature minima
      (:func:`minhash_slot_rows`) — THE linearity guarantee: every slot
      key's bucket is then one concrete df≤cap shingle's doc set, so
      candidate mass has the exact path's Σ df² structure instead of
      boilerplate-quadratic (measured 92.7× without the cap);
    - bucket cap ``max_slot_df`` on (slot, val) bucket width, default 32 —
      the binding selectivity knob. A bucket's docs all carry the key's
      one pre-image shingle, so width ≈ that shingle's carrier-cluster
      size; wrapped-inclusion pairs ride RARE shingles whose buckets are
      near-dup-cluster-sized, while medium-df shingles that hash low under
      some mixer produce wide buckets whose pairs are overwhelmingly
      coincidental. Measured at sf≈1 on the replica-dense corpus (~450k
      true containment pairs): cap 256 → 21.1M candidates, cap 64 → 6.9M,
      cap 32 → 1.9M (~4× true mass), with recall 1.0 in every populated
      audit cell — and end-to-end the capped scale path runs 12.4 s vs
      the exact path's 38.8 s. The cap must sit above the near-dup cluster
      width the pipeline tolerates AFTER exact dedup (clusters wider than
      it go dark for containment — they are the Jaccard/exact passes' job,
      which run first in the documented pipeline order).

    Both caps bound candidate GENERATION only — verification counts the
    true intersection over ALL shingles, so emitted values are exact; the
    recall cost is the df-cap contract the exact path already documents (a
    doc whose shingles are almost all hotter than the cap can miss
    containers), priced per cell by ``containment_recall_audit``.

    Returns DISTINCT ordered (id_a = contained, id_b = container) pairs —
    both directions can qualify for similar-size pairs, matching the exact
    relation. Deterministic (md5 + fixed seeds): the DuckDB oracle replays
    the identical index.

    ``contained_pred``: optional boolean Column over the id column
    restricting the CONTAINED (A) side of the bucket join; the index —
    signatures, hot lists, B side — stays full-corpus, so sampled-A
    candidates are exactly the ``contained_pred(id_a)`` subset of the full
    candidate set (the recall-audit sampling hook, mirroring
    :func:`containment_pairs`)."""
    rows = minhash_slot_rows(sh, id_col, n_hashes, max_shingle_df=max_shingle_df)
    if max_slot_df is not None:
        hot = (
            rows.groupBy("slot", "val")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_slot_df)
            .select("slot", "val")
        )
        # the hot set is tiny (frequency tail) → broadcast anti-join; its
        # groupBy is a map-side-combined shuffle of (slot, val, count) only.
        rows = rows.join(F.broadcast(hot), ["slot", "val"], "left_anti")
    a_rows = rows if contained_pred is None else rows.where(contained_pred)
    a, b = a_rows.alias("a"), rows.alias("b")
    cond = (
        (F.col("a.slot") == F.col("b.slot"))
        & (F.col("a.val") == F.col("b.val"))
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        & (
            F.col("b.__sz").cast("double")
            >= F.lit(threshold) * F.col("a.__sz") - F.lit(1e-6)
        )
    )
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def containment_minhash_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
    k: int = 3,
    n_hashes: int = 16,
    max_shingle_df: int | None = 256,
    max_slot_df: int | None = 32,
    shingles: DataFrame | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Per-doc top-``k`` containers via the SUB-QUADRATIC candidate stage
    (:func:`containment_minhash_candidates`) with the same exact count-based
    verify and bounded k·n output as :func:`containment_topk` — the 100-TB
    form of the containment family. Verification counts the TRUE
    intersection over ALL shingles (hot-capped keys included), so every
    emitted containment value is exact; only RECALL is approximate, priced
    by the catalog's ``containment_recall_audit``.

    ``shingles``: optional prebuilt PERSISTED ``(id_col, sh)`` table shared
    with co-running family members (one tokenize/shingle pass for the whole
    family — the reuse hook ``jaccard_pairs``/``containment_pairs`` carry).
    ``candidates``: optional prebuilt (id_a, id_b) pair set from
    :func:`containment_minhash_candidates` at the SAME knobs — the
    shared-artifact hook (the recall audit and this serve path
    derive the identical set); the caller is responsible for knob
    consistency."""
    from platform_etl_drug_disease_spark.operators.scans import bounded_top_k_rows

    if shingles is not None:
        sh = shingles
    else:
        sh = _shingle_table(df, id_col, text_col, shingle_n).localCheckpoint()
    cand = (
        candidates
        if candidates is not None
        else containment_minhash_candidates(
            sh,
            id_col,
            threshold=threshold,
            n_hashes=n_hashes,
            max_shingle_df=max_shingle_df,
            max_slot_df=max_slot_df,
        )
    )
    # exact verify, shared shape with containment_pairs/minhash_lsh_dedup:
    # candidates ⋈ exploded(A) ⋈ exploded(B) counted per pair IS the true
    # intersection (arrays are distinct per doc); 8-byte xxhash64 keys on
    # the verify shuffle (birthday-bounded over the shingle vocabulary).
    exploded = sh.select(F.col(id_col), F.explode("sh").alias("__s")).select(
        F.col(id_col), F.xxhash64("__s").alias("shingle")
    )
    ex_a = exploded.select(F.col(id_col).alias("id_a"), F.col("shingle"))
    ex_b = exploded.select(F.col(id_col).alias("id_b"), F.col("shingle"))
    inter = _count_intersections(cand, ex_a, ex_b)
    sizes = sh.select(F.col(id_col).alias("id_a"), F.size("sh").alias("__sz_a"))
    scored = (
        inter.join(sizes, "id_a")
        .withColumn(
            "containment",
            F.round(F.col("__inter").cast("double") / F.col("__sz_a"), 6),
        )
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
    return bounded_top_k_rows(
        scored, ["id_a"], [-F.col("containment"), F.col("id_b")], k=k
    )


def containment_corpus_index(
    corpus_sh: DataFrame,
    id_col: str,
    n_hashes: int = 16,
    max_slot_df: int | None = 32,
    hot_shingles: DataFrame | None = None,
) -> DataFrame:
    """Bucket-capped single-slot corpus index — (id, __sz, slot, val) rows —
    from a corpus shingle table and its (persisted) hot-shingle list: the
    slot-row snapshot artifact :func:`incremental_containment_matches`'
    docstring names. Factored out so multi-batch callers (the streaming
    serve twin) build it ONCE per corpus snapshot instead of once per
    micro-batch. The residual bucket-width guard
    (``max_slot_df``) is applied here — a prebuilt index is already
    capped."""
    rows = minhash_slot_rows(
        corpus_sh, id_col, n_hashes, max_shingle_df=None, hot_hashes=hot_shingles
    )
    if max_slot_df is not None:
        # residual bucket-width guard on the index side only; distinct name
        # from the shingle hot-list — unrelated caps.
        hot_buckets = (
            rows.groupBy("slot", "val")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_slot_df)
            .select("slot", "val")
        )
        rows = rows.join(F.broadcast(hot_buckets), ["slot", "val"], "left_anti")
    return rows


def incremental_containment_matches(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
    n_hashes: int = 16,
    max_shingle_df: int | None = 256,
    max_slot_df: int | None = 32,
    new_shingles: DataFrame | None = None,
    corpus_shingles: DataFrame | None = None,
    corpus_hot: DataFrame | None = None,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Continuous-ingestion CONTAINMENT: is a NEW doc already carried
    (wholly or near-wholly) inside an EXISTING corpus doc? Candidates only
    where a new doc and a corpus doc agree on a single-slot MinHash key
    (:func:`minhash_slot_rows`, df-capped per side) AND the corpus doc
    passes the lossless size prune |sh_corpus| ≥ τ·|sh_new|; then the exact
    count-based verify. Returns (new_id, corpus_id, containment ≥ τ) — the
    asymmetric sibling of :func:`incremental_minhash_matches`, closing the
    family's serve-path gap (a freshly-crawled page quoted whole inside an
    aggregator already in the corpus has J ≈ |new|/|corpus| — invisible to
    the banded Jaccard matcher at any useful threshold).

    Serve-path property: per-batch cost tracks the batch size and df-capped
    bucket widths, never corpus size — no corpus self-join anywhere. At
    100 TB the corpus side is the PERSISTED slot-row index plus the
    exploded (id, shingle) table AND the hot-shingle list
    (:func:`_hot_shingle_hashes`), all written once per corpus snapshot;
    here all three are computed from text because the fixture has no
    snapshot store. The hot-list is the CORPUS's, applied to BOTH sides:
    the index dropped corpus-hot shingles from its minima, so a batch
    signed under its own (tiny-df) universe would carry boilerplate minima
    that can never match any index value — silently losing exactly the
    boilerplate-framed quoted-page class this matcher exists to catch
    The index is still buildable without seeing
    future batches — the batch borrows the index's universe, never the
    reverse.

    ``new_shingles`` / ``corpus_shingles`` / ``corpus_hot`` /
    ``corpus_index`` accept the prebuilt PERSISTED snapshot pieces (shingle
    tables, hot-shingle list, bucket-capped slot rows from
    :func:`containment_corpus_index`) so a multi-batch caller pays the
    corpus-sized work once per snapshot and owns the handles' lifecycle —
    without them, everything is computed (and checkpointed) per call, which
    a foreachBatch loop must not do."""
    if new_shingles is not None:
        new_sh = new_shingles
    else:
        new_sh = _shingle_table(new_df, id_col, text_col, shingle_n).localCheckpoint()
    if corpus_shingles is not None:
        corpus_sh = corpus_shingles
    else:
        corpus_sh = _shingle_table(corpus_df, id_col, text_col, shingle_n).localCheckpoint()
    hot_shingles = corpus_hot
    if hot_shingles is None and max_shingle_df is not None:
        # consumed by both sides' anti-joins → checkpoint the (tiny) list
        # rather than re-scanning corpus shingles per side.
        hot_shingles = _hot_shingle_hashes(corpus_sh, max_shingle_df).localCheckpoint()
    nrows = minhash_slot_rows(
        new_sh, id_col, n_hashes, max_shingle_df=None, hot_hashes=hot_shingles
    )
    crows = (
        corpus_index
        if corpus_index is not None
        else containment_corpus_index(
            corpus_sh, id_col, n_hashes, max_slot_df, hot_shingles
        )
    )
    cands = (
        nrows.alias("n")
        .join(
            crows.alias("c"),
            (F.col("n.slot") == F.col("c.slot"))
            & (F.col("n.val") == F.col("c.val"))
            & (
                F.col("c.__sz").cast("double")
                >= F.lit(threshold) * F.col("n.__sz") - F.lit(1e-6)
            ),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"c.{id_col}").alias("corpus_id"),
        )
        .distinct()
    )
    ex_n = new_sh.select(
        F.col(id_col).alias("new_id"), F.explode("sh").alias("__s")
    ).select(F.col("new_id"), F.xxhash64("__s").alias("shingle"))
    ex_c = corpus_sh.select(
        F.col(id_col).alias("corpus_id"), F.explode("sh").alias("__s")
    ).select(F.col("corpus_id"), F.xxhash64("__s").alias("shingle"))
    inter_cnt = _count_intersections(cands, ex_n, ex_c, a="new_id", b="corpus_id")
    sz_n = new_sh.select(
        F.col(id_col).alias("new_id"), F.size("sh").alias("__sz_n")
    )
    return (
        inter_cnt.join(sz_n, "new_id")
        .withColumn(
            "containment",
            F.round(F.col("__inter").cast("double") / F.col("__sz_n"), 6),
        )
        .where(F.col("containment") >= threshold)
        .select("new_id", "corpus_id", "containment")
    )


def quoted_spans(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Longest VERBATIM token run shared by each (id_a, id_b) pair — the
    positional refinement of bag-of-shingles containment. Containment says
    "most of A's shingles appear somewhere in B"; a quoted span says they
    appear CONTIGUOUSLY IN ORDER — the difference between an actual
    quotation (aggregators, quote farms — removable span) and topical
    vocabulary overlap (keep). Returns (id_a, id_b,
    longest_quote_tokens), one row per input pair with ≥1 shared n-gram;
    pairs sharing none emit no row (no match ⇒ no quote).

    Plan: positional n-grams per doc (window ``lead`` over token position —
    no self-join), then for the BOUNDED input pair set only, equi-join A's
    and B's positional n-gram rows on the gram. A run of consecutive
    positions on the same diagonal (j − i constant) is a verbatim match of
    run+n−1 tokens; runs are found with the gaps-and-islands identity
    ``i − row_number() over (pair, diag ORDER BY i)`` — no iteration. A
    gram repeated in a doc yields one row per occurrence (positional, NOT
    the distinct-shingle table), so fan-out per pair is Σ_g cnt_a·cnt_b —
    bounded by pair-set size × per-doc gram multiplicity, and the pair set
    comes from an already-bounded candidate stage (containment/Jaccard
    top-k), never all-pairs. Spark shuffles 8-byte xxhash64 gram keys; the
    oracle joins raw text (same birthday argument as the dedup verifies)."""
    from pyspark.sql import Window

    from platform_etl_drug_disease_spark.operators.text import tokens

    toks = df.select(F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok"))
    wl = Window.partitionBy(id_col).orderBy("pos")
    g = toks
    for k in range(1, n):
        g = g.withColumn(f"t{k}", F.lead("tok", k).over(wl))
    grams = g.where(F.col(f"t{n - 1}").isNotNull()).select(
        F.col(id_col),
        F.col("pos"),
        F.xxhash64(
            F.concat_ws(" ", "tok", *[f"t{k}" for k in range(1, n)])
        ).alias("g"),
    )
    ga = grams.select(
        F.col(id_col).alias("id_a"), F.col("pos").alias("i"), F.col("g")
    )
    gb = grams.select(
        F.col(id_col).alias("id_b"), F.col("pos").alias("j"), F.col("g")
    )
    # distinct on the SMALL pair set, not the positional join output: the
    # joined rows are already unique in (pair, i, diag) — one gram per
    # (doc, pos) per side and diag determines j — so a distinct there would
    # shuffle the query's largest intermediate to remove nothing. Duplicate
    # INPUT pairs would break the islands row_number, hence the cheap guard.
    hits = (
        pairs.select("id_a", "id_b")
        .distinct()
        .join(ga, "id_a")
        .join(gb, ["id_b", "g"])
        .select("id_a", "id_b", "i", (F.col("j") - F.col("i")).alias("diag"))
    )
    wr = Window.partitionBy("id_a", "id_b", "diag").orderBy("i")
    runs = hits.withColumn("island", F.col("i") - F.row_number().over(wr))
    return (
        runs.groupBy("id_a", "id_b", "diag", "island")
        .agg(F.count(F.lit(1)).alias("__run"))
        .groupBy("id_a", "id_b")
        .agg(
            (F.max("__run") + F.lit(n - 1))
            .cast("bigint")
            .alias("longest_quote_tokens")
        )
    )


def _word_lcp(a: Column, b: Column) -> Column:
    """Longest-common-prefix length (in tokens) of two token arrays, as one
    codegen'd expression: ``zip_with`` marks the first position where the
    arrays disagree (null-padding makes a length difference a disagreement),
    ``array_position`` finds it; 0 = no disagreement = the shorter array is
    a full prefix of the other. Null ``b`` (window edge) propagates to null.
    DuckDB mirrors it verbatim (list_zip/list_transform/list_position share
    the padding and 0-when-not-found conventions)."""
    p = F.array_position(
        F.zip_with(a, b, lambda x, y: ~x.eqNullSafe(y)), F.lit(True)
    )
    return F.when(p == 0, F.least(F.size(a), F.size(b))).otherwise(p - 1)


def lr_tokens(text_col: Column | str) -> Column:
    """Suffix-family tokenization: ``operators.text.tokens`` over text with
    the family's sort-separator bytes ``\\x00``/``\\x01`` STRIPPED first
    The prefix-doubling adjacency identity joins token
    slices with ``\\x01`` so that string order refines token-prefix order —
    a convention that is exact only when tokens are free of ``\\x00`` (sorts
    below the separator) and ``\\x01`` itself (makes the joined key
    ambiguous: "x\\x01q" joins identically to the pair "x","q"). Rather than
    disclosing that hole, the family now closes it: both engines strip the
    two bytes from the TEXT before whitespace-splitting (stripping per
    token after the split would differ — a token that IS one of the bytes
    would become an empty token instead of vanishing into whitespace).
    Whitespace-tokenized text corpora never contain them, so on normal data
    this is byte-for-byte the plain tokenization; the DuckDB mirror is
    ``_LR_TOKS_CTE`` in plans/dedup_text.py."""
    from platform_etl_drug_disease_spark.operators.text import tokens

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return tokens(F.regexp_replace(c, "[\\x00\\x01]", ""))


def suffix_base_plan(
    df: DataFrame, id_col: str, text_col: str, w: int
) -> DataFrame:
    """The suffix family's shared TOKEN BASE: (id, __t tokens, __n length)
    for docs with ≥ ``w`` tokens, hash-repartitioned by id — the layout the
    doubling loop's per-round slice joins reuse. Factored out so
    :func:`longest_repeat_lengths` and :func:`sampled_repeat_lengths` can
    share ONE materialized copy via their ``frames`` hook instead of each
    re-tokenizing the corpus and re-running the anchor-count shuffle."""
    return (
        df.select(F.col(id_col), lr_tokens(text_col).alias("__t"))
        .withColumn("__n", F.size("__t"))
        .where(F.col("__n") >= w)
        .repartition(F.col(id_col))
    )


def suffix_occurrences(base: DataFrame, id_col: str, w: int) -> DataFrame:
    """One row per token-position suffix over a token base:
    (id, pos, __rem remaining tokens, __key xxhash64 of the leading-``w``
    anchor). Cheap to recompute from a materialized base (scan + explode,
    no shuffle), so consumers derive it lazily rather than memoizing it."""
    return base.select(
        F.col(id_col),
        "__t",
        "__n",
        F.explode(F.sequence(F.lit(0), F.col("__n") - w)).alias("pos"),
    ).select(
        F.col(id_col),
        "pos",
        (F.col("__n") - F.col("pos")).alias("__rem"),
        F.xxhash64(
            F.array_join(F.slice("__t", F.col("pos") + 1, w), " ")
        ).alias("__key"),
    )


def suffix_anchor_counts(base: DataFrame, id_col: str, w: int) -> DataFrame:
    """Anchor document-frequency table (__key, __df) — the full-corpus
    shuffle both suffix operators pay identically; share it via ``frames``."""
    return (
        suffix_occurrences(base, id_col, w)
        .groupBy("__key")
        .agg(F.count(F.lit(1)).alias("__df"))
    )


def _suffix_round_frame(
    alive: DataFrame, toks_by_id: DataFrame, id_col: str, depth: int
) -> DataFrame:
    """ONE prefix-doubling round of ``longest_repeat_lengths``, as a lazy
    frame: fetch each live suffix's next ``depth`` tokens from the
    id-partitioned token table, extend the group key to depth ``2*depth``,
    and compute the extended-group size (``__c2``) and the
    adjacent-neighbour repeat length (``__r``) with TWO windows over ONE
    ``__key`` exchange — the round's whole shuffle budget. Factored out of
    the loop so tests/test_plan_quality.py can pin this plan shape (the
    two-windows-one-exchange form was worth ~6 s at sf≈1 and is exactly
    the silent-drift class plan pins exist to catch). Returns the
    frame pruned to the six columns the resolved/alive splits need —
    ``__rest``/``__rest_str``, the per-round payload, never reach the
    checkpoint."""
    from pyspark.sql import Window

    st = (
        alive.join(toks_by_id, id_col)
        .withColumn(
            "__rest", F.slice("__t", F.col("pos") + depth + 1, depth)
        )
        .drop("__t")
        # sort-key separator \x01, NOT space: the adjacency identity
        # needs string order to refine token-prefix order, i.e. the
        # separator must sort below any in-token byte. Tokens are
        # \s+-split so they cannot contain whitespace, but C0 control
        # chars (\x02-\x08, \x0e-\x1f) survive tokenization and sort
        # BELOW ' ' — under a space join a token like "x\x02q" would
        # misorder against "x b" and shave the adjacent-max LCP.
        # The two bytes that would break the
        # convention itself — \x00 (sorts below the separator) and
        # \x01 (makes the joined key ambiguous) — CANNOT occur here:
        # both family entry points tokenize via lr_tokens(), which
        # strips them from the text before splitting (on both
        # engines).
        .withColumn("__rest_str", F.array_join("__rest", "\x01"))
        .withColumn(
            "__key2",
            F.xxhash64(
                F.concat_ws(
                    "|", F.col("__key").cast("string"), F.col("__rest_str")
                )
            ),
        )
    )
    # extended-key group size via a window PARTITIONED BY (__key,
    # __key2), not a groupBy+join: every __key2 group is a subset of
    # its __key group, so hash-partitioning on __key alone satisfies
    # BOTH this window's clustering and the sort window below —
    # Catalyst plans ONE exchange per round (plus two in-partition
    # sorts) where groupBy+join cost two extra shuffles of the full
    # live set. (Keying the count by the pair also stops a cross-group
    # 64-bit __key2 collision from merging counts across anchors.)
    ws = Window.partitionBy("__key").orderBy(
        "__rest_str", F.col(id_col), "pos"
    )
    st = st.withColumn(
        "__c2",
        F.count(F.lit(1)).over(Window.partitionBy("__key", "__key2")),
    ).withColumn(
        "__r",
        F.lit(depth)
        + F.greatest(
            F.coalesce(
                _word_lcp(F.col("__rest"), F.lag("__rest").over(ws)),
                F.lit(0),
            ),
            F.coalesce(
                _word_lcp(F.col("__rest"), F.lead("__rest").over(ws)),
                F.lit(0),
            ),
        ).cast("bigint"),
    )
    return st.select(F.col(id_col), "pos", "__rem", "__c2", "__key2", "__r")


def longest_repeat_lengths(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 8,
    max_anchor_df: int = 512,
    max_rounds: int = 24,
    frames: tuple[DataFrame, DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """ARBITRARY-LENGTH repeated-substring lengths, exactly — for every
    token-position suffix that shares at least ``w`` leading tokens with
    another suffix anywhere in the corpus, the EXACT length of its longest
    such shared prefix (``repeat_len``). This is the suffix-array
    longest-repeat semantics of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better") that ``substring_dedup_stats``'s
    fixed-W marks only bound from below: W-gram marks say "≥ W here", this
    says "exactly 23 tokens, starting here".

    Distributed suffix ranking by PREFIX DOUBLING, never materializing full
    suffix remainders:

    1. anchor every suffix by its first ``w`` tokens (xxhash64 key); only
       anchors shared by 2..``max_anchor_df`` suffixes can carry a repeat —
       wider anchors are boilerplate handled by the df-capped shingle
       family, excluded here and DISCLOSED (second return value: 1-row
       (n_capped_anchors, n_capped_suffixes) — no silent caps);
    2. per round at depth d (= w, 2w, 4w, …): fetch each live suffix's NEXT
       d tokens from the persisted, id-partitioned token table (a bounded
       slice — the only per-suffix payload ever shipped), extend the group
       key to depth 2d, and sort suffixes WITHIN their depth-d group by the
       slice. In suffix order the maximum LCP against the whole group is
       attained at an adjacent row (the suffix-array adjacency property),
       and the join-with-``\\x01`` string order refines token-prefix order
       (tokens come from :func:`lr_tokens`, which strips ``\\x00``/``\\x01``
       so the separator sorts below every in-token byte unambiguously), so
       ``repeat_len = d + max(token-LCP with the two neighbours)``
       is EXACT for every suffix whose extended key is unique or whose
       remainder ends within the window — those resolve and leave the loop;
    3. suffixes whose extended key is still shared AND whose remainder
       continues past 2d stay live (their repeat is provably ≥ 2d);
       ``localCheckpoint`` truncates lineage per round, the
       ``connected_components`` convention.

    Cost shape: a suffix stays live while 2^k < its repeat length and ships
    2^k tokens in round k, so total bytes ≈ 2 × Σ repeat_len — LINEAR in
    duplicated token mass (the family's scaling contract), times
    O(log max_repeat) rounds; the all-suffix × remainder materialization a
    naive sort would ship is O(duplicated mass × doc length). Identical
    full remainders (exact suffix twins) resolve by the remainder-ends
    rule, so the loop terminates in ≤ log2(max doc tokens) rounds
    (``max_rounds`` is a backstop far above any real corpus; exhausting it
    with rows still live RAISES rather than silently dropping them).

    Returns ``(per_suffix, capped)``: per_suffix = (id_col, pos,
    repeat_len ≥ w) rows, one per qualifying suffix; capped = the 1-row
    disclosure frame. Deterministic; the catalog oracle recomputes the same
    ``repeat_len`` single-node via a true full-suffix sort.

    ``frames``: optional caller-materialized ``(base, anchor_counts)`` pair
    from :func:`suffix_base_plan` / :func:`suffix_anchor_counts` — the
    tokenize pass and the anchor-count shuffle are identical across every
    suffix operator over one corpus snapshot, so a caller running several
    of them (``plans/dedup_text.capped_repeat_estimate`` runs this and
    :func:`sampled_repeat_lengths`) materializes the pair once and passes
    it to each. Row-identical to the self-built path (pytest-pinned); the
    caller owns persistence."""
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    if frames is None:
        base = suffix_base_plan(df, id_col, text_col, w).persist()
        cnt = suffix_anchor_counts(base, id_col, w)
    else:
        # caller-materialized (base, anchor counts): the tokenize pass and
        # the full-corpus anchor shuffle run once for every suffix operator
        # the caller runs. The caller owns the frames' lifecycle.
        base, cnt = frames
    occ = suffix_occurrences(base, id_col, w)
    # 1-row disclosure frame, materialized NOW (localCheckpoint) so base can
    # be unpersisted when the loop ends without leaving a lazy reader.
    capped = cnt.where(F.col("__df") > max_anchor_df).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_capped_anchors"),
        F.coalesce(F.sum("__df"), F.lit(0)).cast("bigint").alias(
            "n_capped_suffixes"
        ),
    ).localCheckpoint()
    keep = cnt.where(
        (F.col("__df") >= 2) & (F.col("__df") <= max_anchor_df)
    ).select("__key")
    alive = occ.join(keep, "__key").localCheckpoint()
    toks_by_id = base.select(F.col(id_col), "__t")

    out = _doubling_loop(alive, toks_by_id, id_col, w, max_rounds)
    # every consumer (the per-round frames and the disclosure row) is an
    # EAGER localCheckpoint — the loop's resolved/alive splits are filters
    # OVER those checkpoints — so the token table has no remaining lazy
    # readers; release its cache blocks before handing back the result.
    if frames is None:
        base.unpersist()
    return out, capped


def _doubling_loop(
    alive: DataFrame, toks_by_id: DataFrame, id_col: str, w: int,
    max_rounds: int,
) -> DataFrame:
    """The prefix-doubling resolution loop shared by
    :func:`longest_repeat_lengths` (exact, anchors 2..cap) and
    :func:`sampled_repeat_lengths` (sampled interior of beyond-cap
    anchors). ``alive`` = (id_col, pos, __rem, __key) suffix rows, eagerly
    materialized by the caller; ``toks_by_id`` = the id-partitioned token
    table the per-round slice joins read. Returns one compact (id_col, pos,
    repeat_len) checkpoint. The loop is agnostic to
    HOW the alive set was chosen: repeat_len is the longest shared prefix
    with any OTHER alive suffix of the same ``__key`` group, which is the
    exact corpus-wide value when the group is an anchor's full suffix set
    and a within-sample lower bound when it is a sample."""
    depth = w
    resolved: list[DataFrame] = []
    for _ in range(max_rounds):
        live_cond = (F.col("__c2") > 1) & (F.col("__rem") > 2 * depth)
        # ONE eager materialization per round: checkpointing the
        # resolved part and the alive part separately made each recompute
        # the token-slice join and both window sorts — the round's entire
        # cost, paid twice. Checkpoint the round frame ONCE (pruned by
        # _suffix_round_frame to the six columns both splits need — the
        # live/resolved conditions read __c2 and __rem post-checkpoint) and
        # derive the splits as lazy filters over the checkpointed blocks.
        stc = _suffix_round_frame(
            alive, toks_by_id, id_col, depth
        ).localCheckpoint()
        resolved.append(
            stc.where(~live_cond)
            .select(F.col(id_col), "pos", F.col("__r").alias("repeat_len"))
        )
        alive = stc.where(live_cond).select(
            F.col(id_col), "pos", "__rem", F.col("__key2").alias("__key")
        )
        depth *= 2
        if alive.isEmpty():
            break
    else:
        # suffixes still live when the backstop exhausts would otherwise be
        # SILENTLY missing from the output — a disclosure-free cap, which
        # this operator forbids. A live row needs remainder > depth, and
        # depth doubled max_rounds times, so this fires only on misuse
        # (tiny max_rounds) — loudly.
        n_left = alive.count()
        if n_left:
            raise RuntimeError(
                f"_doubling_loop: {n_left} suffixes still live after "
                f"max_rounds={max_rounds} (depth {depth}); raise max_rounds"
            )
    out = resolved[0]
    for part in resolved[1:]:
        out = out.unionByName(part)
    # COMPACT the result into one 3-column checkpoint before returning:
    # the union above references every round's 6-column frame — including
    # alive-intermediate rows later rounds superseded — and a caller that
    # holds the result (a query reading the per-suffix frame several
    # times) would pin all of those blocks. One cheap pass over the
    # resolved rows re-materializes just (id, pos, repeat_len); dropping
    # the per-round references afterwards lets the ContextCleaner reclaim
    # the loop's blocks.
    return out.localCheckpoint()


def sampled_repeat_lengths(
    frames: tuple[DataFrame, DataFrame],
    id_col: str,
    w: int = 8,
    min_anchor_df: int = 512,
    max_anchor_df: int | None = None,
    sample_per_anchor: int = 64,
    max_rounds: int = 24,
    salt_buckets: int = 64,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """SAMPLED interior estimate of repeat lengths for anchors BEYOND the
    exact census' df cap. ``longest_repeat_lengths``
    excludes anchors shared by more than its cap and discloses the mass —
    correct, but on a boilerplate-saturated corpus the most interesting
    repeats live exactly there. This operator runs the SAME prefix-doubling
    loop (:func:`_doubling_loop`) over a deterministic ≤``sample_per_anchor``
    sample of each selected anchor's suffixes, yielding per-suffix
    WITHIN-SAMPLE repeat lengths (a lower bound of the corpus-wide value:
    the true max-LCP neighbour may be unsampled) plus the Horvitz-Thompson
    weight each sampled suffix carries (anchor_df / sample_per_anchor —
    exact, because the knob validation below guarantees every selected
    anchor samples exactly sample_per_anchor suffixes; the audit family's
    own machinery, plans/dedup_text.containment_recall_audit).

    Selection: anchors with df > ``min_anchor_df`` (and, when
    ``max_anchor_df`` is given, df ≤ it — the audit-band form, where exact
    truth is still affordable for comparison). ``min_anchor_df`` must be
    ≥ ``sample_per_anchor`` (validated): every selected anchor
    then has df > sample_per_anchor, so exactly ``sample_per_anchor``
    suffixes are sampled per anchor and the Horvitz-Thompson weight is
    exactly ``anchor_df / sample_per_anchor`` — the constant the consumers
    divide by. (Allowing df < sample_per_anchor would silently bias the
    estimate low for those anchors.) Sampling is deterministic and
    engine-portable: rank suffixes within their anchor by ``md5(id:pos)``
    (ties broken by (id, pos)) and keep rank ≤ ``sample_per_anchor`` — a
    DuckDB oracle reproduces the identical sample with ``row_number()
    OVER (PARTITION BY anchor ORDER BY md5(...))``, so the estimate is
    fully value-hashable, not merely rows-only.

    HEAT-ROBUST RANKING: a naive exact-rank window partitioned
    by anchor would shuffle every occurrence of a hot anchor into ONE task
    and sort all of them there — an O(df log df) single-reducer sort for
    exactly the million-occurrence boilerplate anchors this operator
    exists for. The rank therefore runs in two stages: (1) a salted
    partial top-``sample_per_anchor`` per (anchor, ``salt_buckets``-way
    deterministic salt of (id, pos)) — each salted group holds ~df/salt
    rows, sorted with full spill support; (2) an exact top-
    ``sample_per_anchor`` over the surviving ≤ salt_buckets ×
    sample_per_anchor rows per anchor. The global top-S by (md5, id, pos)
    is the top-S of the union of per-salt top-S's, so the sample — and
    every downstream hash — is IDENTICAL to the single-window form while
    per-task work is bounded by max(df/salt_buckets, salt_buckets ×
    sample_per_anchor).

    Cost shape: the doubling loop's bytes-linear-in-repeat-mass contract
    applies to the SAMPLED mass — ≤ ``sample_per_anchor`` suffixes per
    anchor no matter how hot the anchor is. The ranking stage above is the
    only part that touches the full anchor heat, and its per-task work is
    salt-bounded as described, so the end-to-end cost is
    O(corpus scan + heat/salt_buckets per task + n_selected_anchors ×
    sample_per_anchor × loop rounds) — bounded where the exact census'
    cost is unbounded above its cap.

    ``frames``: the caller-owned ``(base, anchor_counts)`` pair from
    :func:`suffix_base_plan` / :func:`suffix_anchor_counts` at this ``w``.

    Returns ``(sampled, selected, disclosure)``:

    - ``sampled``: (id_col, pos, repeat_len, anchor_df) — one row per
      sampled suffix; HT estimate of the anchor-mass at a given length is
      Σ anchor_df / sample_per_anchor over its sampled rows;
    - ``selected``: (id_col, pos) of EVERY suffix of a selected anchor,
      checkpointed — O(selected anchor MASS), the set an audit joins
      against exact truth;
    - ``disclosure``: 1 row (n_selected_anchors, n_selected_suffixes).
    """
    from pyspark.sql import Window

    if sample_per_anchor < 2:
        raise ValueError(
            "sample_per_anchor must be >= 2: a 1-suffix sample has no "
            f"within-sample neighbour to share a prefix with, got "
            f"{sample_per_anchor}"
        )
    if min_anchor_df < 1:
        raise ValueError(
            "min_anchor_df must be >= 1: selecting df-1 anchors yields "
            "singleton groups whose suffixes repeat nowhere yet would "
            f"resolve to repeat_len = w noise, got {min_anchor_df}"
        )
    if min_anchor_df < sample_per_anchor:
        # an anchor with df < sample_per_anchor yields
        # n_sampled = df, but the consumers' HT weight divides by the
        # CONSTANT sample_per_anchor — a silently-low-biased estimate.
        # Requiring min_anchor_df >= sample_per_anchor guarantees every
        # selected anchor (df > min_anchor_df) samples exactly
        # sample_per_anchor suffixes, making the constant weight exact.
        raise ValueError(
            "min_anchor_df must be >= sample_per_anchor (anchors with "
            "df < sample_per_anchor would bias the anchor_df/"
            "sample_per_anchor HT weight low), got "
            f"min_anchor_df={min_anchor_df} < {sample_per_anchor}"
        )
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    if salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets}")
    base, cnt = frames
    occ = suffix_occurrences(base, id_col, w)
    sel_cond = F.col("__df") > min_anchor_df
    if max_anchor_df is not None:
        sel_cond = sel_cond & (F.col("__df") <= max_anchor_df)
    # checkpoint the anchor-selection frame ONCE (one row per selected
    # anchor): disclosure, the selected-suffix listing, and the sample all
    # derive from it, and without the checkpoint each would re-run the
    # full-corpus anchor-count shuffle as its own job (three corpus
    # shuffles where one suffices).
    sel = cnt.where(sel_cond).localCheckpoint()
    disclosure = sel.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_selected_anchors"),
        F.coalesce(F.sum("__df"), F.lit(0)).cast("bigint").alias(
            "n_selected_suffixes"
        ),
    ).localCheckpoint()
    cand = occ.join(sel, "__key")
    # every suffix of a selected anchor (the disclosed anchor mass — two
    # bigints per suffix), which the audit joins against exact truth
    selected = cand.select(F.col(id_col), "pos").localCheckpoint()
    # two-stage deterministic top-sample_per_anchor (see docstring
    # "HEAT-ROBUST RANKING"): stage 1 ranks within (anchor,
    # salt) so no task ever sorts more than ~df/salt_buckets rows of one
    # anchor; stage 2 ranks the bounded per-salt survivors exactly. Both
    # stages order by (md5(id:pos), id, pos) — the union-of-partial-top-S
    # identity makes the final sample equal to the single-window form.
    sk = F.md5(
        F.concat_ws(
            ":",
            F.col(id_col).cast("string"),
            F.col("pos").cast("string"),
        )
    )
    salted = cand.withColumn("__sk", sk).withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(id_col), F.col("pos")), F.lit(salt_buckets))
    )
    w1 = Window.partitionBy("__key", "__salt").orderBy(
        "__sk", F.col(id_col), "pos"
    )
    partial = salted.withColumn("__rk1", F.row_number().over(w1)).where(
        F.col("__rk1") <= sample_per_anchor
    )
    w2 = Window.partitionBy("__key").orderBy("__sk", F.col(id_col), "pos")
    samp = (
        partial.withColumn("__rk", F.row_number().over(w2))
        .where(F.col("__rk") <= sample_per_anchor)
        .select(F.col(id_col), "pos", "__rem", "__key", "__df")
        .localCheckpoint()
    )
    weights = samp.select(F.col(id_col), "pos", F.col("__df"))
    alive = samp.select(F.col(id_col), "pos", "__rem", "__key")
    resolved = _doubling_loop(
        alive, base.select(F.col(id_col), "__t"), id_col, w, max_rounds
    )
    # a (doc, pos) suffix belongs to exactly one anchor (its own leading
    # w tokens), so the weight join-back is 1:1 on the sampled keys.
    sampled = resolved.join(weights, [id_col, "pos"]).select(
        F.col(id_col),
        "pos",
        "repeat_len",
        F.col("__df").cast("bigint").alias("anchor_df"),
    )
    return sampled, selected, disclosure
