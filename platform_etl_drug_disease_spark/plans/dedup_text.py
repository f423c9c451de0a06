"""Dedup + text-analysis catalog over the ``documents`` table — the
LLM-training-data extension operators (exact dedup, n-gram Jaccard,
MinHash+LSH, SimHash, quality/language/token analytics).

Every hash is md5-based so the DuckDB oracle runs the *identical* pipeline;
SimHash's per-bit loop is Spark-side only (rows-only check, by design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.operators import text as tx
from platform_etl_drug_disease_spark.operators.scans import (
    bounded_min_k,
    bounded_top_k_rows,
    keyed_running_sum,
)
from platform_etl_drug_disease_spark.operators.sampling import (
    deterministic_sample,
    split_assign,
    stratified_sample,
)
from platform_etl_drug_disease_spark.operators.dedup import (
    connected_components,
    containment_minhash_candidates,
    containment_minhash_topk,
    containment_pairs,
    containment_topk,
    incremental_containment_matches,
    longest_repeat_lengths,
    lr_tokens,
    sampled_repeat_lengths,
    suffix_anchor_counts,
    suffix_base_plan,
    quoted_spans,
    incremental_minhash_matches,
    minhash_lsh_dedup,
    exact_dedup_clusters,
    jaccard_pairs,
    minhash_seeds,
)
from platform_etl_drug_disease_spark.operators.joins import symmetrize
from platform_etl_drug_disease_spark.plans._util import arr_join, dround
from platform_etl_drug_disease_spark.plans.memo_owners import session_memo
from platform_etl_drug_disease_spark.schemas import (
    ensure_compute_partitions,
    load_table,
)

# DuckDB equivalents of operators.text.tokens / operators.text.shingles —
# identical tokenization and shingling so hashes agree byte-for-byte.
_TOKS_CTE = r"""
WITH toks AS (
    SELECT doc_id, lang, source,
           string_split_regex(trim(lower(text)), '\s+') AS t
    FROM documents
)
"""

_SHINGLES_CTE = _TOKS_CTE + r"""
, sh AS (
    SELECT doc_id, lang,
           CASE WHEN len(t) >= 3
                THEN list_distinct(list_transform(range(1, len(t) - 1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                ELSE CAST([] AS VARCHAR[]) END AS sh
    FROM toks
)
"""


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring + fingerprint, one pass, JVM-only.

    Tokenizes into a materialized column ONCE and feeds the ``*_of`` stat
    forms — inlining ``tokens()`` into each of the 6 stats re-runs the split
    per stat (HOF lambdas are interpreted, no common-subexpression reuse)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("__toks")
    return docs.withColumn("__toks", tx.tokens("text")).select(
        "doc_id",
        "lang",
        tx.token_count_of(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct_tokens"),
        F.round(tx.mean_token_length_of(t), 6).alias("mean_token_len"),
        F.round(tx.stopword_ratio_of(t), 6).alias("stopword_ratio"),
        tx.quality_score_of(t).alias("quality"),
        tx.bow_fingerprint_of(t).alias("fingerprint"),
    )


_TEXT_STATS_SQL = _TOKS_CTE + """
SELECT doc_id, lang,
       CAST(len(t) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct(t)) AS INTEGER) AS n_distinct_tokens,
       round(list_reduce(list_transform(t, x -> length(x)), (a,b) -> a + b)
             * 1.0 / nullif(len(t), 0), 6) AS mean_token_len,
       round(len(list_filter(t, x -> list_contains(
             ['the','a','an','of','and','to','in','is','it','for'], x)))
             * 1.0 / nullif(len(t), 0), 6) AS stopword_ratio,
       round(0.4 * least(len(t) / 64.0, 1.0)
           + 0.4 * coalesce(len(list_distinct(t)) * 1.0 / nullif(len(t), 0), 0.0)
           + 0.2 * least(coalesce(len(list_filter(t, x -> list_contains(
                 ['the','a','an','of','and','to','in','is','it','for'], x)))
                 * 1.0 / nullif(len(t), 0), 0.0) * 4.0, 1.0), 6) AS quality,
       md5(list_aggregate(list_sort(list_distinct(t)), 'string_agg', ' ')) AS fingerprint
FROM toks
"""


def token_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting + order-sensitive rolling-hash document
    fingerprint (whitespace tokens tokenized once, *_of form)."""
    # compute-shaped partitioning: the per-token fold below is the cost,
    # and a single-file corpus scan would run it on one core (21x wall at
    # 10x data at sf≈1 before this fix).
    docs = ensure_compute_partitions(
        load_table(spark, sf_dir, "documents", ["doc_id", "text"]), "doc_id"
    )
    t = F.col("__toks")
    return docs.withColumn("__toks", tx.tokens("text")).select(
        "doc_id",
        tx.bpe_ish_token_count("text").alias("n_tokens_bpe"),
        tx.rolling_hash_of(t).alias("rolling_hash"),
    )


_TOKEN_FP_SQL = _TOKS_CTE + r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(trim(lower(d.text)), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS INTEGER)
           AS n_tokens_bpe,
       CASE WHEN len(t) = 0 THEN CAST(0 AS BIGINT)
            -- list_reduce starts from the first element; (0*131 + t1) % mod
            -- = t1, so the seedless reduce equals the zero-seeded fold.
            ELSE list_reduce(
                list_transform(t, x -> CAST(('0x' || substr(md5(x), 1, 7)) AS BIGINT)),
                (a, e) -> (a * 131 + e) % 2147483647) END AS rolling_hash
FROM toks JOIN documents d USING (doc_id)
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup clusters by md5(text) — hash-groupBy, O(1) per cluster."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return exact_dedup_clusters(docs, "doc_id", "text")


_DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keeper_id,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1
"""


def dedup_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 exact-Jaccard neighbours among pairs ≥ 0.5, lang-blocked:
    candidates must share one of each doc's ⌊|sh|/2⌋+1 globally-rarest
    trigram shingles (PPJoin prefix principle — lossless at the threshold),
    then an exact count-based verify over all shingles
    (operators/dedup.jaccard_pairs; the df>256 cap only bounds prefix
    membership). The all-pairs result is output-bound (~2,948× fan-out on
    the adversarial sf≈1 corpus — every downstream consumer inherits it);
    this form symmetrizes the verified pairs and cuts each doc to its k=3
    strongest neighbours, so the OUTPUT and everything consuming it is
    bounded at k·n rows no matter how large duplicate clusters grow. The
    intermediate candidate/verify fan-out remains the documented exact-path
    trade (MinHash+LSH is the 100-TB candidate path; the recall audit
    prices the difference).

    The per-doc cut uses ``bounded_top_k_rows`` (hash-bucketed mergeable
    top-k), NOT a row_number window over all pairs: a 1M-replica cluster
    gives each member ~1M qualifying pairs, and a per-doc window would sort
    them on one reducer; the bounded cut keeps per-reducer state at the
    sub-bucket slice. The final rank stamp windows over ≤ k rows per doc.
    Ordering: jaccard DESC (round-6 values — exact integer ratio, identical
    both engines), neighbour id ASC tie-break — a total order per doc."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text", "lang"])
    pairs = jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.5, block_col="lang",
        max_shingle_df=256,
    )
    # symmetrize in ONE pass: a union of two selects over `pairs` would
    # reference the whole candidate/verify subtree twice and execute it
    # twice (measured +12 s at sf≈1 — the same double-subtree cost the HITS
    # trade-off pinned); joins.symmetrize emits both directions from a
    # single execution, no persist needed.
    sym = symmetrize(
        pairs.select(
            F.col("id_a").alias("doc_id"), F.col("id_b").alias("nbr_id"), "jaccard"
        ),
        "doc_id",
        "nbr_id",
    )
    top = bounded_top_k_rows(
        sym, ["doc_id"], [-F.col("jaccard"), F.col("nbr_id")], k=3
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("nbr_id")
    )
    return top.select(
        "doc_id",
        F.row_number().over(w).cast("bigint").alias("nbr_rank"),
        "nbr_id",
        "jaccard",
    )


# Mirrors the Spark pipeline exactly: df-ranked prefixes (ascending df,
# shingle tie-break; df>256 shingles excluded from prefixes), prefix-share
# candidates, the exact intersection COUNT over all shingles, then the
# symmetrized per-doc top-3.
_JACCARD_TOPK_SQL = _SHINGLES_CTE + """
, ex AS (SELECT doc_id, lang, len(sh) AS sz, unnest(sh) AS s FROM sh),
freq AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s HAVING COUNT(*) <= 256),
ranked AS (
    SELECT ex.doc_id, ex.lang, ex.sz, ex.s,
           row_number() OVER (PARTITION BY ex.doc_id
                              ORDER BY freq.df, ex.s) AS rn
    FROM ex JOIN freq USING (s)
),
pref AS (SELECT doc_id, lang, s FROM ranked
         WHERE rn <= sz - CAST(ceil(sz * 0.5 - 1e-6) AS INT) + 1),
cands AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM pref a JOIN pref b
      ON a.s = b.s AND a.doc_id < b.doc_id AND a.lang = b.lang
),
inter AS (
    SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
    FROM cands c
    JOIN ex ea ON ea.doc_id = c.id_a
    JOIN ex eb ON eb.doc_id = c.id_b AND eb.s = ea.s
    GROUP BY c.id_a, c.id_b
),
verified AS (
    SELECT i.id_a, i.id_b,
           round(i.n_inter * 1.0
                 / (sa.sz + sb.sz - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN (SELECT DISTINCT doc_id, sz FROM ex) sa ON i.id_a = sa.doc_id
    JOIN (SELECT DISTINCT doc_id, sz FROM ex) sb ON i.id_b = sb.doc_id
),
pairs AS (SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5),
sym AS (
    SELECT id_a AS doc_id, id_b AS nbr_id, jaccard FROM pairs
    UNION ALL
    SELECT id_b AS doc_id, id_a AS nbr_id, jaccard FROM pairs
)
SELECT doc_id, CAST(rn AS BIGINT) AS nbr_rank, nbr_id, jaccard
FROM (
    SELECT doc_id, nbr_id, jaccard,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY jaccard DESC, nbr_id) AS rn
    FROM sym
) WHERE rn <= 3
"""


def _containment_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, containment) top-3-containers relation over the
    snapshot's ``documents`` at the knobs ``dedup_containment_topk`` and
    ``quoted_span_stats`` share (trigrams, τ=0.8, k=3, lang block,
    df≤256)."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text", "lang"])
    return containment_topk(
        docs, "doc_id", "text", shingle_n=3, threshold=0.8, k=3,
        block_col="lang", max_shingle_df=256,
    )


def dedup_containment_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: per doc, its top-3 CONTAINERS by trigram-shingle
    containment |A∩B|/|A| ≥ 0.8, lang-blocked
    (operators/dedup.containment_topk). Complements the symmetric Jaccard /
    MinHash family: a doc quoted whole inside a much larger page has
    J ≈ |A|/|B| (below any useful symmetric threshold) but containment
    ≈ 1.0 — the wrapped-inclusion duplicate class (aggregators, quote
    farms, boilerplate-framed mirrors) that survives Jaccard passes.
    One-sided prefix filter (A's |sh|−⌈0.8·|sh|⌉+1 rarest shingles,
    integer-exact, df≤256 cap on prefix
    membership only) plus the lossless size prune
    (|sh_B| ≥ τ·|sh_A| — measured 52.3 → 36.2 s at sf≈1), exact verify
    over all shingles, bounded k·n output. Cost profile at sf≈1 is
    in-family with `dedup_ngram_jaccard_topk` (the replica-dense corpus
    makes intra-cluster candidates genuine verify mass); sf0.1 → sf≈1 on
    non-adversarial axes is 1.2×."""
    top = _containment_topk(spark, sf_dir)
    w = Window.partitionBy("id_a").orderBy(F.col("containment").desc(), "id_b")
    return top.select(
        F.col("id_a").alias("doc_id"),
        F.row_number().over(w).cast("bigint").alias("container_rank"),
        F.col("id_b").alias("container_id"),
        "containment",
    )


# One-sided prefix mirror: prefix_len uses (1 − 0.8), candidates join A's
# prefix against ALL shingle rows (no prefix on the container side), verify
# counts the true intersection, containment divides by |sh(A)| only.
_CONTAINMENT_SQL = _SHINGLES_CTE + """
, ex AS (SELECT doc_id, lang, len(sh) AS sz, unnest(sh) AS s FROM sh),
freq AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s HAVING COUNT(*) <= 256),
ranked AS (
    SELECT ex.doc_id, ex.lang, ex.sz, ex.s,
           row_number() OVER (PARTITION BY ex.doc_id
                              ORDER BY freq.df, ex.s) AS rn
    FROM ex JOIN freq USING (s)
),
pref AS (SELECT doc_id, lang, sz, s FROM ranked
         -- integer-exact PPJoin prefix sz - ceil(tau*sz) + 1 (the
         -- float form floor(sz*(1-0.8)) is one short at multiples of 5)
         WHERE rn <= sz - CAST(ceil(sz * 0.8 - 1e-6) AS INT) + 1),
cands AS (
    -- size prune mirror: a container smaller than tau*|sh(A)| can never
    -- reach containment tau (|A inter B| <= |sh(B)|); 1e-6 slack matches
    -- the Spark side's float-boundary guard
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM pref a JOIN ex b
      ON a.s = b.s AND a.doc_id != b.doc_id AND a.lang = b.lang
     AND b.sz * 1.0 >= 0.8 * a.sz - 1e-6
),
inter AS (
    SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
    FROM cands c
    JOIN ex ea ON ea.doc_id = c.id_a
    JOIN ex eb ON eb.doc_id = c.id_b AND eb.s = ea.s
    GROUP BY c.id_a, c.id_b
),
scored AS (
    SELECT i.id_a, i.id_b,
           round(i.n_inter * 1.0 / sa.sz, 6) AS containment
    FROM inter i
    JOIN (SELECT DISTINCT doc_id, sz FROM ex) sa ON i.id_a = sa.doc_id
)
SELECT id_a AS doc_id, CAST(rn AS BIGINT) AS container_rank,
       id_b AS container_id, containment
FROM (
    SELECT id_a, id_b, containment,
           row_number() OVER (PARTITION BY id_a
                              ORDER BY containment DESC, id_b) AS rn
    FROM scored WHERE containment >= 0.8
) WHERE rn <= 3
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands × 4 rows) candidates verified with exact
    Jaccard ≥ 0.5 (per-candidate array intersection — O(candidates) verify
    cost, the property that makes LSH the scale path). The near-dup pair
    set of the cluster/split/keeper family."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return minhash_lsh_dedup(
        docs, "doc_id", "text", shingle_n=3, n_hashes=16, n_bands=4,
        threshold=0.5,
    )


def _lsh_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-min connected components (node, component) over the
    ``dedup_minhash_lsh`` pair set."""
    return connected_components(
        dedup_minhash_lsh(spark, sf_dir), "id_a", "id_b"
    )


# Mirror of operators/dedup.py:banded_signatures' hash family: one md5 per
# shingle → 60-bit int, then min(xor(h, seed_i)) per slot. Seeds are the
# SAME literals (minhash_seeds) on both engines.
_MINHASH_SEEDS_SQL = "[" + ", ".join(str(s) for s in minhash_seeds(16)) + "]"

_SIGS_CTE = f"""
, sigs AS (
    SELECT doc_id, sh,
           list_transform(range(0, 16), i ->
               list_aggregate(list_transform(sh,
                   s -> xor(CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT),
                            ({_MINHASH_SEEDS_SQL})[i + 1])), 'min')) AS sig
    FROM sh WHERE len(sh) > 0
)"""

_MINHASH_PAIRS_CORE = _SIGS_CTE + """
, banded AS (
    SELECT doc_id,
           unnest(list_transform(range(0, 4), b -> concat_ws('#',
               CAST(b AS VARCHAR),
               sig[b*4+1], sig[b*4+2], sig[b*4+3], sig[b*4+4]))) AS band_key
    FROM sigs
), cands AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band_key = b.band_key AND a.doc_id < b.doc_id
), verified AS (
    SELECT c.id_a, c.id_b,
           round(len(list_filter(sa.sh, s -> list_contains(sb.sh, s))) * 1.0
                 / (len(sa.sh) + len(sb.sh)
                    - len(list_filter(sa.sh, s -> list_contains(sb.sh, s)))), 6) AS jaccard
    FROM cands c
    JOIN sh sa ON c.id_a = sa.doc_id
    JOIN sh sb ON c.id_b = sb.doc_id
)
"""

_MINHASH_SQL = _SHINGLES_CTE + _MINHASH_PAIRS_CORE + """
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5
"""


def _lsh_bound_literals() -> list[tuple[int, str]]:
    """P(LSH candidate | jaccard = s) = 1 − (1 − s^r)^b for the 4-band ×
    4-row banding, evaluated at each decile LOWER edge s = d/10 and
    engine-deterministically rounded to 6 places IN PYTHON — both the Spark
    expression and the oracle SQL carry these identical decimal literals
    (pow() is not cross-engine IEEE-exact, so neither engine computes it)."""
    import math

    out: list[tuple[int, str]] = []
    for d in range(5, 11):
        s = d / 10.0
        p = 1.0 - (1.0 - s**4) ** 4
        out.append((d, f"{math.floor(p * 1e6 + 0.5) / 1e6:.6f}"))
    return out


def dedup_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate recall of MinHash(16)+LSH(4 bands × 4 rows) against the
    exact-Jaccard ground truth, resolved per jaccard decile, with the
    banding-theory collision probability 1−(1−s⁴)⁴ at each decile's lower
    edge alongside.

    This measures the one lossy step of the documented 100-TB near-dup
    path — candidate GENERATION (the banded self-join, before the exact
    verify) — against the lossless prefix-filtered exact path
    (``jaccard_pairs``), turning the exact path's scale cost into a
    quantified trade: every decile's measured recall can be read against
    its theoretical floor. Truth is computed WITHOUT lang
    blocking so cross-language true pairs (which MinHash also sees) count
    in the denominator.

    Expected shape: recall ≈ the bound at s=0.5 (the S-curve's steep flank)
    rising to ~1.0 by s≥0.8 — a pytest on a planted corpus pins recall ≥
    bound per decile; at catalog scale the value-hash oracle pins the exact
    counts. Scale: both inputs are the existing banded/prefix-filtered
    pipelines (never all-pairs); the audit join is equi-keyed on (id_a,
    id_b) and the output is ≤ 6 rows."""
    from platform_etl_drug_disease_spark.operators.dedup import (
        _candidates_from_shingles,
        _shingle_table,
    )

    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    # ONE shingle table shared by the exact-truth and MinHash sides —
    # without it the corpus is tokenized/shingled/hashed twice.
    sh = _shingle_table(docs, "doc_id", "text", shingle_n=3).persist()
    truth = jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.5,
        block_col=None, max_shingle_df=256, shingles=sh,
    )
    cands = _candidates_from_shingles(
        sh, "doc_id", n_hashes=16, n_bands=4
    ).withColumn("__hit", F.lit(1))
    # decile of the (round-6) jaccard: the +1e-9 absorbs the representation
    # error of e.g. 0.6*10 = 5.999999…, and is far below the 1e-5 grid the
    # round-6 values live on after ×10 — identical arithmetic in the oracle.
    decile = F.floor(F.col("jaccard") * F.lit(10.0) + F.lit(1e-9)).cast("int")
    bound = F.lit(None).cast("double")
    for d, txt in _lsh_bound_literals():
        bound = F.when(F.col("jaccard_decile") == d, F.lit(float(txt))).otherwise(bound)
    return (
        truth.join(cands, ["id_a", "id_b"], "left")
        .select(
            decile.alias("jaccard_decile"),
            F.coalesce(F.col("__hit"), F.lit(0)).alias("__hit"),
        )
        .groupBy("jaccard_decile")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum("__hit").cast("bigint").alias("n_recalled"),
        )
        .withColumn(
            "recall",
            dround(
                F.col("n_recalled").cast("double") / F.col("n_true").cast("double"),
                6,
            ),
        )
        .withColumn("lsh_bound", bound)
    )


def _recall_audit_sql() -> str:
    """Truth = the prefix/verify core of _JACCARD_TOPK_SQL minus lang
    blocking; candidates = the banded-signature self-join from _SIGS_CTE (no
    verify). The Spark prefix ranks by (df, xxhash64) and this mirror by
    (df, shingle text) — both are consistent global orders, so the lossless
    prefix filter yields the same thresholded truth set (as in the
    dedup_ngram_jaccard_topk oracle)."""
    bound_case = "CASE jaccard_decile " + " ".join(
        f"WHEN {d} THEN {txt}" for d, txt in _lsh_bound_literals()
    ) + " END"
    return _SHINGLES_CTE + _SIGS_CTE + f"""
, ex AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sh),
freq AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s HAVING COUNT(*) <= 256),
ranked AS (
    SELECT ex.doc_id, ex.sz, ex.s,
           row_number() OVER (PARTITION BY ex.doc_id
                              ORDER BY freq.df, ex.s) AS rn
    FROM ex JOIN freq USING (s)
),
pref AS (SELECT doc_id, s FROM ranked
         WHERE rn <= sz - CAST(ceil(sz * 0.5 - 1e-6) AS INT) + 1),
tcands AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
),
tinter AS (
    SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
    FROM tcands c
    JOIN ex ea ON ea.doc_id = c.id_a
    JOIN ex eb ON eb.doc_id = c.id_b AND eb.s = ea.s
    GROUP BY c.id_a, c.id_b
),
truth AS (
    SELECT * FROM (
        SELECT i.id_a, i.id_b,
               round(i.n_inter * 1.0 / (sa.sz + sb.sz - i.n_inter), 6) AS jaccard
        FROM tinter i
        JOIN (SELECT DISTINCT doc_id, sz FROM ex) sa ON i.id_a = sa.doc_id
        JOIN (SELECT DISTINCT doc_id, sz FROM ex) sb ON i.id_b = sb.doc_id
    ) WHERE jaccard >= 0.5
),
banded AS (
    SELECT doc_id,
           unnest(list_transform(range(0, 4), b -> concat_ws('#',
               CAST(b AS VARCHAR),
               sig[b*4+1], sig[b*4+2], sig[b*4+3], sig[b*4+4]))) AS band_key
    FROM sigs
),
mcands AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
scored AS (
    SELECT CAST(floor(t.jaccard * 10 + 1e-9) AS INT) AS jaccard_decile,
           CASE WHEN m.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
    FROM truth t
    LEFT JOIN mcands m ON t.id_a = m.id_a AND t.id_b = m.id_b
)
SELECT jaccard_decile,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(SUM(hit) AS BIGINT) AS n_recalled,
       floor(SUM(hit) * 1.0 / COUNT(*) * 1e6 + 0.5) / 1e6 AS recall,
       {bound_case} AS lsh_bound
FROM scored GROUP BY jaccard_decile
"""


# ---------------------------------------------------------------------------
# Containment family, scale path + audit.
# ---------------------------------------------------------------------------

# Mirror of operators/dedup.py:minhash_slot_rows (df-capped signatures) +
# containment_minhash_candidates at τ={tau}: hot shingles (df > 256) never
# enter the slot minima (the r=1 linearity guarantee — see the operator
# docstring), minima per slot over md5-60bit XOR the shared seed literals,
# residual (slot, val) bucket cap 32, and the lossless |sh_B| ≥ τ·|sh_A|
# size prune inside the bucket join. sz is the FULL shingle count (the size
# prune reasons about true sizes), taken before the df cap. The Spark side
# counts df on the 60-bit hash, this mirror on raw shingle text — identical
# under the same birthday bound as the verify keys.
_CONTAINMENT_MINHASH_CANDS_SQL = (
    """
, cex AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sh),
ckeep AS (SELECT s FROM cex GROUP BY s HAVING COUNT(*) <= 256),
chash AS (
    SELECT c.doc_id, c.sz,
           CAST(('0x' || substr(md5(c.s), 1, 15)) AS BIGINT) AS h
    FROM cex c SEMI JOIN ckeep k ON c.s = k.s
),
sigrows AS (
    SELECT ch.doc_id, min(ch.sz) AS sz, t.i AS slot,
           min(xor(ch.h, ("""
    + _MINHASH_SEEDS_SQL
    + """)[t.i + 1])) AS val
    FROM chash ch CROSS JOIN range(0, 16) AS t(i)
    GROUP BY ch.doc_id, t.i
),
hotslots AS (
    SELECT slot, val FROM sigrows GROUP BY slot, val HAVING COUNT(*) > 32
),
coldrows AS (
    SELECT sr.doc_id, sr.sz, sr.slot, sr.val
    FROM sigrows sr ANTI JOIN hotslots h
      ON sr.slot = h.slot AND sr.val = h.val
),
mcands AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM coldrows a JOIN coldrows b
      ON a.slot = b.slot AND a.val = b.val
     AND a.doc_id != b.doc_id
     AND b.sz * 1.0 >= {tau} * a.sz - 1e-6
)
"""
)

_CONTAINMENT_MINHASH_SQL = (
    _SHINGLES_CTE
    + _CONTAINMENT_MINHASH_CANDS_SQL.format(tau="0.8")
    + """
, ex AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sh),
inter AS (
    SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
    FROM mcands c
    JOIN ex ea ON ea.doc_id = c.id_a
    JOIN ex eb ON eb.doc_id = c.id_b AND eb.s = ea.s
    GROUP BY c.id_a, c.id_b
),
scored AS (
    SELECT i.id_a, i.id_b,
           round(i.n_inter * 1.0 / sa.sz, 6) AS containment
    FROM inter i
    JOIN (SELECT DISTINCT doc_id, sz FROM ex) sa ON i.id_a = sa.doc_id
)
SELECT id_a AS doc_id, CAST(rn AS BIGINT) AS container_rank,
       id_b AS container_id, containment
FROM (
    SELECT id_a, id_b, containment,
           row_number() OVER (PARTITION BY id_a
                              ORDER BY containment DESC, id_b) AS rn
    FROM scored WHERE containment >= 0.8
) WHERE rn <= 3
"""
)


#: shared containment-scale-path artifacts: the
#: trigram shingle table and the UNFILTERED single-slot MinHash candidate
#: pair set at the SHIPPED config (τ=0.8, 16 hashes, df≤256, slot≤32) are
#: derived identically by `dedup_containment_minhash_topk` (the serve path)
#: and `containment_recall_audit` (which audits exactly that
#: configuration); memo owner: `dedup_containment_minhash_topk`. This
#: pair is the package's only session memo: the benchmark's query_mix
#: repeats that request, and its repeats read the memo instead of
#: rebuilding the shingle table and the candidate join.
_CTM_SHINGLES_CACHE: dict[tuple, DataFrame] = {}
_CTM_CANDS_CACHE: dict[tuple, DataFrame] = {}


@session_memo(_CTM_SHINGLES_CACHE, "documents")
def _ctm_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized trigram shingle table over the snapshot's documents."""
    from platform_etl_drug_disease_spark.operators.dedup import _shingle_table

    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return _shingle_table(docs, "doc_id", "text", shingle_n=3).localCheckpoint()


@session_memo(_CTM_CANDS_CACHE, "documents")
def _ctm_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized unfiltered candidate (id_a, id_b) pairs at the shipped
    containment-LSH config, over the memoized shingle table. The pair set
    tracks duplicate mass (bucket-capped), so the checkpoint is small at
    any corpus size while its derivation is the family's big join."""
    return containment_minhash_candidates(
        _ctm_shingles(spark, sf_dir),
        "doc_id",
        threshold=0.8,
        n_hashes=16,
        max_shingle_df=256,
        max_slot_df=32,
    ).localCheckpoint()


def dedup_containment_minhash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-quadratic sibling of ``dedup_containment_topk``: per doc, top-3
    containers by trigram containment ≥ 0.8, candidates from single-slot
    (r=1, b=16) MinHash LSH instead of the exact one-sided prefix join
    (operators/dedup.containment_minhash_topk). The exact path's candidate
    fan-out is Σ_A prefix_len(A)·df — linear in corpus shingle mass; this
    one is bounded by signature-bucket sizes (bucket-capped at 32),
    which track duplicate mass — the documented 100-TB candidate shape, the
    same relationship MinHash+LSH has to exact Jaccard. Emitted containment
    values are EXACT (full count-based verify); only recall is approximate
    — P(candidate) = 1−(1−J)^16 with J ≥ τ/(1+R−τ) at size ratio R — and
    ``containment_recall_audit`` prices it per (decile × size stratum).
    Unblocked (no lang partition): the scale path must stand without
    blocking help."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    top = containment_minhash_topk(
        docs, "doc_id", "text", shingle_n=3, threshold=0.8, k=3,
        n_hashes=16, max_shingle_df=256, max_slot_df=32,
        shingles=_ctm_shingles(spark, sf_dir),
        candidates=_ctm_candidates(spark, sf_dir),
    )
    w = Window.partitionBy("id_a").orderBy(F.col("containment").desc(), "id_b")
    return top.select(
        F.col("id_a").alias("doc_id"),
        F.row_number().over(w).cast("bigint").alias("container_rank"),
        F.col("id_b").alias("container_id"),
        "containment",
    )


def containment_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion containment: docs with ``doc_id % 10 == 0`` play
    the incoming batch, the rest the existing corpus; each new doc is
    matched as CONTAINED (trigram containment ≥ 0.8) against the corpus
    slot-row index + size prune, exact count-verified
    (operators/dedup.incremental_containment_matches). The asymmetric
    sibling of ``dedup_incremental`` — a fresh page quoted whole inside an
    already-indexed aggregator has J ≈ |new|/|corpus|, invisible to the
    banded Jaccard matcher; this catches it at per-batch cost (no corpus
    self-join anywhere in the plan)."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return incremental_containment_matches(
        docs.where(F.col("doc_id") % 10 == 0),
        docs.where(F.col("doc_id") % 10 != 0),
        "doc_id",
        "text",
        shingle_n=3,
        threshold=0.8,
        n_hashes=16,
        max_shingle_df=256,
        max_slot_df=32,
    )


# Mirror of incremental_containment_matches over the %10 split: ONE
# signature universe = the CORPUS's hot-list applied to both sides (the
# index dropped corpus-hot shingles from its minima; a batch-local df
# would leave boilerplate minima in the batch that can never match the
# index), corpus-side residual bucket cap, size
# prune inside the bucket join, exact verify over the UNCAPPED shingle
# rows of both sides.
_CONTAINMENT_INCR_SQL = (
    _SHINGLES_CTE
    + """
, icex AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sh
           WHERE doc_id % 10 <> 0),
ichot AS (SELECT s FROM icex GROUP BY s HAVING COUNT(*) > 256),
nex AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sh
        WHERE doc_id % 10 = 0),
nhash AS (
    SELECT n.doc_id, n.sz,
           CAST(('0x' || substr(md5(n.s), 1, 15)) AS BIGINT) AS h
    FROM nex n ANTI JOIN ichot k ON n.s = k.s
),
nsig AS (
    SELECT nh.doc_id, min(nh.sz) AS sz, t.i AS slot,
           min(xor(nh.h, ("""
    + _MINHASH_SEEDS_SQL
    + """)[t.i + 1])) AS val
    FROM nhash nh CROSS JOIN range(0, 16) AS t(i)
    GROUP BY nh.doc_id, t.i
),
ichash AS (
    SELECT c.doc_id, c.sz,
           CAST(('0x' || substr(md5(c.s), 1, 15)) AS BIGINT) AS h
    FROM icex c ANTI JOIN ichot k ON c.s = k.s
),
icsig AS (
    SELECT ch.doc_id, min(ch.sz) AS sz, t.i AS slot,
           min(xor(ch.h, ("""
    + _MINHASH_SEEDS_SQL
    + """)[t.i + 1])) AS val
    FROM ichash ch CROSS JOIN range(0, 16) AS t(i)
    GROUP BY ch.doc_id, t.i
),
icbhot AS (SELECT slot, val FROM icsig GROUP BY slot, val HAVING COUNT(*) > 32),
iccold AS (
    SELECT c.doc_id, c.sz, c.slot, c.val
    FROM icsig c ANTI JOIN icbhot h ON c.slot = h.slot AND c.val = h.val
),
imcands AS (
    SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
    FROM nsig n JOIN iccold c
      ON n.slot = c.slot AND n.val = c.val
     AND c.sz * 1.0 >= 0.8 * n.sz - 1e-6
),
ivinter AS (
    SELECT m.new_id, m.corpus_id, COUNT(*) AS n_inter
    FROM imcands m
    JOIN nex en ON en.doc_id = m.new_id
    JOIN icex ec ON ec.doc_id = m.corpus_id AND ec.s = en.s
    GROUP BY m.new_id, m.corpus_id
)
SELECT new_id, corpus_id, containment FROM (
    SELECT v.new_id, v.corpus_id,
           round(v.n_inter * 1.0 / sn.sz, 6) AS containment
    FROM ivinter v
    JOIN (SELECT DISTINCT doc_id, sz FROM nex) sn ON v.new_id = sn.doc_id
) WHERE containment >= 0.8
"""
)


def quoted_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim-quote refinement of the containment relation: for each
    (contained doc → top-3 containers) pair of the exact containment top-k
    (τ=0.8, unblocked), the longest VERBATIM token run shared in order
    (operators/dedup.quoted_spans — positional trigram diagonals + the
    gaps-and-islands identity, no iteration). Bag containment alone cannot
    distinguish an actual quotation (removable span — aggregators, quote
    farms) from topical vocabulary overlap; pairing each containment score
    with its longest quote length is the curation-grade signal. Cost: the
    positional join runs over the BOUNDED k·n pair set only — the
    expensive candidate discovery is the already-priced containment
    stage, lang-BLOCKED like `dedup_containment_topk` (verbatim quotation
    is same-language by construction, and blocking keeps the discovery in
    that query's measured cost class instead of the ~2× unblocked one)."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text", "lang"])
    # checkpointed: read twice (the span pair set and the containment
    # join-back), and the prefix/verify pipeline should run once
    top = _containment_topk(spark, sf_dir).localCheckpoint()
    spans = quoted_spans(docs, top, "doc_id", "text", n=3)
    return top.join(spans, ["id_a", "id_b"]).select(
        F.col("id_a").alias("doc_id"),
        F.col("id_b").alias("container_id"),
        "containment",
        "longest_quote_tokens",
    )


# Mirror: the proven lang-blocked containment top-k core (_CONTAINMENT_SQL
# shape) + positional trigrams (1-based list index i ↔ the
# Spark side's 0-based pos = i − 1; diagonals are position DIFFERENCES so
# the base cancels) + islands via i − row_number() per (pair, diag).
_QUOTED_SPAN_SQL = _SHINGLES_CTE + """
, ex AS (SELECT doc_id, lang, len(sh) AS sz, unnest(sh) AS s FROM sh),
freq AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s HAVING COUNT(*) <= 256),
ranked AS (
    SELECT ex.doc_id, ex.lang, ex.sz, ex.s,
           row_number() OVER (PARTITION BY ex.doc_id
                              ORDER BY freq.df, ex.s) AS rn
    FROM ex JOIN freq USING (s)
),
pref AS (SELECT doc_id, lang, sz, s FROM ranked
         WHERE rn <= sz - CAST(ceil(sz * 0.8 - 1e-6) AS INT) + 1),
qcands AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM pref a JOIN ex b
      ON a.s = b.s AND a.doc_id != b.doc_id AND a.lang = b.lang
     AND b.sz * 1.0 >= 0.8 * a.sz - 1e-6
),
qinter AS (
    SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
    FROM qcands c
    JOIN ex ea ON ea.doc_id = c.id_a
    JOIN ex eb ON eb.doc_id = c.id_b AND eb.s = ea.s
    GROUP BY c.id_a, c.id_b
),
tpk AS (
    SELECT id_a, id_b, containment FROM (
        SELECT id_a, id_b, containment,
               row_number() OVER (PARTITION BY id_a
                                  ORDER BY containment DESC, id_b) AS rn
        FROM (
            SELECT i.id_a, i.id_b,
                   round(i.n_inter * 1.0 / sa.sz, 6) AS containment
            FROM qinter i
            JOIN (SELECT DISTINCT doc_id, sz FROM ex) sa ON i.id_a = sa.doc_id
        ) WHERE containment >= 0.8
    ) WHERE rn <= 3
),
pgrams AS (
    SELECT doc_id, unnest(range(1, len(t) - 1)) AS i, t
    FROM toks
),
pg AS (
    SELECT doc_id, i - 1 AS pos,
           t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g
    FROM pgrams
),
hits AS (
    -- no DISTINCT: rows are already unique in (pair, i, diag) — one gram
    -- per (doc, pos) per side, diag determines j; tpk pairs are distinct
    -- by construction (row_number <= 3)
    SELECT p.id_a, p.id_b, a.pos AS i, b.pos - a.pos AS diag
    FROM tpk p
    JOIN pg a ON a.doc_id = p.id_a
    JOIN pg b ON b.doc_id = p.id_b AND b.g = a.g
),
runs AS (
    SELECT id_a, id_b, diag,
           i - row_number() OVER (PARTITION BY id_a, id_b, diag
                                  ORDER BY i) AS island
    FROM hits
),
spans AS (
    SELECT id_a, id_b, CAST(MAX(cnt) + 2 AS BIGINT) AS longest_quote_tokens
    FROM (
        SELECT id_a, id_b, diag, island, COUNT(*) AS cnt
        FROM runs GROUP BY id_a, id_b, diag, island
    ) GROUP BY id_a, id_b
)
SELECT t.id_a AS doc_id, t.id_b AS container_id, t.containment,
       s.longest_quote_tokens
FROM tpk t JOIN spans s ON t.id_a = s.id_a AND t.id_b = s.id_b
"""


def _containment_bound_literals() -> list[tuple[int, int, str]]:
    """P(single-slot candidate | containment = c, size ratio R) lower bound
    per audit cell: J(A,B) = c/(1 + R − c) is the Jaccard floor at
    containment c and R = |sh_B|/|sh_A|, so with 16 independent slots
    P ≥ 1 − (1 − J_min)^16 evaluated at the cell's WORST corner — c at the
    decile's lower edge d/10 and R at the stratum's upper edge 2^(δ+1)
    (size_delta δ = floor(log2 sz_B) − floor(log2 sz_A) means
    R < 2^(δ+1)). The pooled δ=4 cell ("4 or more") has unbounded R →
    bound 0. Rounded to 6 places IN PYTHON and carried as identical decimal
    literals on both engines (pow is not cross-engine IEEE-exact)."""
    import math

    out: list[tuple[int, int, str]] = []
    for d in range(5, 11):
        for delta in range(-1, 5):
            if delta >= 4:
                p = 0.0
            else:
                c_lo = d / 10.0
                r_max = float(2 ** (delta + 1))
                j_min = min(c_lo / (1.0 + r_max - c_lo), 1.0)
                p = 1.0 - (1.0 - j_min) ** 16
            out.append((d, delta, f"{math.floor(p * 1e6 + 0.5) / 1e6:.6f}"))
    return out


def _containment_audit_cells(
    docs: DataFrame,
    contained_pred,
    inv_p: float,
    shingles: DataFrame | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Shared core of the containment recall audit: exact truth vs MinHash
    candidates per (containment decile × size-ratio stratum), optionally
    with the CONTAINED side restricted to a deterministic doc sample.

    ``contained_pred`` (boolean Column over doc_id, or None) restricts the
    A side of BOTH pipelines identically — per-pair recall is a function of
    the pair alone (candidate membership never depends on other A docs:
    df counts, hot lists, and the B side stay full-corpus), so sampled
    cells measure the same per-pair Bernoulli as the full audit, on fewer
    pairs. ``inv_p`` is the Horvitz–Thompson weight (1/p) used to
    extrapolate cell mass; 1.0 = full truth (the pytest pin path).

    ``shingles``/``candidates``: optional caller-materialized shared
    artifacts: the trigram shingle table and the UNFILTERED
    candidate pair set at the shipped config — the same frames
    ``dedup_containment_minhash_topk`` serves from. Passing the unfiltered
    candidate set is value-identical to building a ``contained_pred``-
    filtered one: the audit joins candidates LEFT from the sampled truth
    on (id_a, id_b), and per-pair candidate membership never depends on
    other A docs, so the filtered set is exactly the pred(id_a) subset of
    the full set restricted to the same pairs — the argument the DuckDB
    oracle mirror has always used (it joins the unfiltered mcands)."""
    from platform_etl_drug_disease_spark.operators.dedup import _shingle_table

    sh = (
        shingles
        if shingles is not None
        else _shingle_table(docs, "doc_id", "text", shingle_n=3).persist()
    )
    truth = containment_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.8,
        block_col=None, max_shingle_df=256, shingles=sh,
        contained_pred=contained_pred,
    )
    if candidates is None:
        candidates = containment_minhash_candidates(
            sh, "doc_id", threshold=0.8, n_hashes=16, max_shingle_df=256,
            max_slot_df=32, contained_pred=contained_pred,
        )
    cands = candidates.withColumn("__hit", F.lit(1))
    sizes = sh.select("doc_id", F.size("sh").alias("__sz"))
    t = truth.join(
        sizes.select(F.col("doc_id").alias("id_a"), F.col("__sz").alias("__sz_a")),
        "id_a",
    ).join(
        sizes.select(F.col("doc_id").alias("id_b"), F.col("__sz").alias("__sz_b")),
        "id_b",
    )
    # integer-exact floor(log2): binary digit count − 1 (sz ≥ 1 always —
    # truth pairs require a non-empty intersection).
    strat_a = F.length(F.bin(F.col("__sz_a"))) - 1
    strat_b = F.length(F.bin(F.col("__sz_b"))) - 1
    delta = F.least(F.greatest(strat_b - strat_a, F.lit(-1)), F.lit(4)).cast("int")
    # +1e-9 absorbs representation error of e.g. 0.6*10 (same grid argument
    # as dedup_recall_audit; round-6 values live on a 1e-5 grid after ×10).
    decile = F.floor(F.col("containment") * F.lit(10.0) + F.lit(1e-9)).cast("int")
    bound = F.lit(None).cast("double")
    for d, dl, txt in _containment_bound_literals():
        bound = F.when(
            (F.col("containment_decile") == d) & (F.col("size_delta") == dl),
            F.lit(float(txt)),
        ).otherwise(bound)
    agg = (
        t.join(cands, ["id_a", "id_b"], "left")
        .select(
            decile.alias("containment_decile"),
            delta.alias("size_delta"),
            F.coalesce(F.col("__hit"), F.lit(0)).alias("__hit"),
        )
        .groupBy("containment_decile", "size_delta")
        .agg(
            F.count(F.lit(1)).alias("n_sampled_true"),
            F.sum("__hit").cast("bigint").alias("n_recalled"),
        )
        .withColumn(
            "recall",
            dround(
                F.col("n_recalled").cast("double")
                / F.col("n_sampled_true").cast("double"),
                6,
            ),
        )
    )
    # Wilson 95% interval on the per-cell recall, from the SAMPLED pair
    # count (z = 1.96, z² = 3.8416 as shared decimal literals; the ROUNDED
    # recall feeds the formula so both engines start from the same 1e-6-grid
    # value). Wilson rather than normal: at recall = 1.0 the normal
    # interval collapses to a point, overstating certainty exactly where
    # the audit's conclusions matter most. Same expression tree as the
    # oracle SQL — IEEE doubles with identical operation order.
    n_d = F.col("n_sampled_true").cast("double")
    r = F.col("recall")
    denom = F.lit(1.0) + F.lit(3.8416) / n_d
    center = (r + F.lit(3.8416) / (F.lit(2.0) * n_d)) / denom
    hw = (F.lit(1.96) / denom) * F.sqrt(
        r * (F.lit(1.0) - r) / n_d + F.lit(3.8416) / (F.lit(4.0) * n_d * n_d)
    )
    return agg.select(
        "containment_decile",
        "size_delta",
        "n_sampled_true",
        dround(F.col("n_sampled_true").cast("double") * F.lit(inv_p), 1).alias(
            "est_n_true"
        ),
        "n_recalled",
        "recall",
        dround(center - hw, 6).alias("recall_ci_lo"),
        dround(center + hw, 6).alias("recall_ci_hi"),
    ).withColumn("slot_bound", bound)


# deterministic 10% doc sample for the audit's truth stage: md5 bucket of
# doc_id under a dedicated salt (the sample_extrapolation_audit machinery).
_AUDIT_SAMPLE_SALT = "cra8"
_AUDIT_SAMPLE_BUCKETS = 10_000
_AUDIT_SAMPLE_KEEP = 1_000
# Horvitz–Thompson weight 1/p, DERIVED so changing the sample rate can
# never leave a stale extrapolation constant behind on either engine
# (both carry this one value, so the oracle could not catch the skew).
_AUDIT_INV_P = float(_AUDIT_SAMPLE_BUCKETS) / float(_AUDIT_SAMPLE_KEEP)


def containment_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate recall of the single-slot MinHash containment stage against
    the exact containment truth at the SHIPPED operating threshold (τ=0.8 —
    auditing the exact configuration `dedup_containment_minhash_topk`
    serves), resolved per (containment decile × size-ratio stratum), with
    the closed-form slot bound 1−(1−J_min)^16 at each cell's worst corner
    alongside (:func:`_containment_bound_literals`) — the
    ``dedup_recall_audit`` pattern applied to the asymmetric family.

    The truth stage runs on a deterministic 10% Horvitz–Thompson doc sample
    of the CONTAINED side (md5-bucket membership, pure function of doc_id —
    the ``sample_extrapolation_audit`` machinery), pushed into BOTH
    pipelines via their ``contained_pred`` hooks: the full-truth audit's
    one-sided prefix join was the last corpus-quadratic stage in the timed
    headline (95.9 s of 657.8 s at sf≈1); sampling the A
    side prices recall at ~p× the cost. Per-pair candidate membership never
    depends on other A docs (df counts, hot lists, and the container side
    stay full-corpus), so each sampled cell measures the same per-pair
    Bernoulli recall as the full audit — ``n_sampled_true`` pairs instead
    of all of them — and ``tests/test_extensions.py`` pins sampled vs
    full-truth cells on a planted corpus. Outputs per cell: sampled/HT
    mass (``n_sampled_true``, ``est_n_true`` = sampled × 10), measured
    ``recall`` with a Wilson 95% CI (``recall_ci_lo``/``recall_ci_hi``),
    and the closed-form ``slot_bound``.

    2-D because containment recall decays along BOTH axes: lower containment
    AND higher size skew reduce the Jaccard floor J = c/(1+R−c) the LSH
    actually sees. size_delta = floor(log2 |sh_B|) − floor(log2 |sh_A|),
    computed INTEGER-EXACT as binary-digit counts (length(bin(sz))−1 on both
    engines — floor(log/log 2) is not reliably exact at powers of two),
    clamped to [−1, 4] (τ=0.8 forces |sh_B| ≥ 0.8·|sh_A| ⇒ δ ≥ −1; δ=4
    pools "≥16×", where the bound is 0 and the exact path is the only
    coverage). The bound table still carries deciles 5–10 so a lower-τ
    audit variant can reuse it; τ=0.8 populates 8–10.

    ONE shingle table feeds truth, candidates, and sizes (the ``shingles=``
    reuse hook); the audit join is equi-keyed on (id_a,
    id_b); output ≤ 36 cells."""
    from platform_etl_drug_disease_spark.operators.sampling import md5_bucket

    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    pred = (
        md5_bucket("doc_id", _AUDIT_SAMPLE_BUCKETS, _AUDIT_SAMPLE_SALT)
        < _AUDIT_SAMPLE_KEEP
    )
    return _containment_audit_cells(
        docs,
        pred,
        _AUDIT_INV_P,
        shingles=_ctm_shingles(spark, sf_dir),
        candidates=_ctm_candidates(spark, sf_dir),
    )


def _containment_recall_audit_sql() -> str:
    """Truth = the proven _CONTAINMENT_SQL core at τ=0.8 minus lang blocking,
    with the contained (A) side restricted to the same deterministic 10%
    md5-bucket sample the Spark plan pushes through ``contained_pred``
    (membership is a pure function of doc_id — both engines compute the
    identical sample); candidates = _CONTAINMENT_MINHASH_CANDS_SQL
    (df-capped signatures, full-corpus index — the LEFT JOIN restricts to
    sampled truth, so leaving mcands unfiltered is value-identical). The
    Spark prefix ranks by (df, xxhash64) and this mirror by (df, shingle
    text) — both consistent global orders, so the lossless prefix filter
    yields the same thresholded truth (as in the dedup_ngram_jaccard_topk
    oracle). Wilson CI arithmetic mirrors the Spark expression tree
    op-for-op on the ROUNDED recall."""
    bound_case = (
        "CASE "
        + " ".join(
            f"WHEN containment_decile = {d} AND size_delta = {dl} THEN {txt}"
            for d, dl, txt in _containment_bound_literals()
        )
        + " END"
    )
    sample_pred = (
        f"CAST(('0x' || substr(md5('{_AUDIT_SAMPLE_SALT}' || "
        f"CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) "
        f"% {_AUDIT_SAMPLE_BUCKETS} < {_AUDIT_SAMPLE_KEEP}"
    )
    wilson_denom = "(1.0 + 3.8416 / n_d)"
    wilson_center = f"((recall + 3.8416 / (2.0 * n_d)) / {wilson_denom})"
    wilson_hw = (
        f"((1.96 / {wilson_denom}) * sqrt(recall * (1.0 - recall) / n_d"
        f" + 3.8416 / (4.0 * n_d * n_d)))"
    )
    return (
        _SHINGLES_CTE
        + _CONTAINMENT_MINHASH_CANDS_SQL.format(tau="0.8")
        + f"""
, ex AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sh),
freq AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s HAVING COUNT(*) <= 256),
ranked AS (
    SELECT ex.doc_id, ex.sz, ex.s,
           row_number() OVER (PARTITION BY ex.doc_id
                              ORDER BY freq.df, ex.s) AS rn
    FROM ex JOIN freq USING (s)
),
pref AS (SELECT doc_id, sz, s FROM ranked
         WHERE rn <= sz - CAST(ceil(sz * 0.8 - 1e-6) AS INT) + 1
           AND {sample_pred}),
tcands AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM pref a JOIN ex b
      ON a.s = b.s AND a.doc_id != b.doc_id
     AND b.sz * 1.0 >= 0.8 * a.sz - 1e-6
),
tinter AS (
    SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
    FROM tcands c
    JOIN ex ea ON ea.doc_id = c.id_a
    JOIN ex eb ON eb.doc_id = c.id_b AND eb.s = ea.s
    GROUP BY c.id_a, c.id_b
),
truth AS (
    SELECT * FROM (
        SELECT i.id_a, i.id_b,
               round(i.n_inter * 1.0 / sa.sz, 6) AS containment,
               sa.sz AS sz_a, sb.sz AS sz_b
        FROM tinter i
        JOIN (SELECT DISTINCT doc_id, sz FROM ex) sa ON i.id_a = sa.doc_id
        JOIN (SELECT DISTINCT doc_id, sz FROM ex) sb ON i.id_b = sb.doc_id
    ) WHERE containment >= 0.8
),
cells AS (
    SELECT CAST(floor(t.containment * 10 + 1e-9) AS INT) AS containment_decile,
           CAST(least(greatest((length(bin(t.sz_b)) - 1)
                               - (length(bin(t.sz_a)) - 1), -1), 4) AS INT)
               AS size_delta,
           CASE WHEN m.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
    FROM truth t
    LEFT JOIN mcands m ON t.id_a = m.id_a AND t.id_b = m.id_b
),
agg AS (
    SELECT containment_decile, size_delta,
           CAST(COUNT(*) AS BIGINT) AS n_sampled_true,
           CAST(COUNT(*) AS DOUBLE) AS n_d,
           CAST(SUM(hit) AS BIGINT) AS n_recalled,
           floor(SUM(hit) * 1.0 / COUNT(*) * 1e6 + 0.5) / 1e6 AS recall
    FROM cells GROUP BY containment_decile, size_delta
)
SELECT containment_decile, size_delta, n_sampled_true,
       floor((n_d * {_AUDIT_INV_P!r}) * 10.0 + 0.5) / 10.0 AS est_n_true,
       n_recalled, recall,
       floor(({wilson_center} - {wilson_hw}) * 1e6 + 0.5) / 1e6 AS recall_ci_lo,
       floor(({wilson_center} + {wilson_hw}) * 1e6 + 0.5) / 1e6 AS recall_ci_hi,
       {bound_case} AS slot_bound
FROM agg
"""
    )


def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate CLUSTERS via connected components (hash-min
    label propagation, operators/dedup.py:connected_components). Each cluster
    is labeled by its min doc_id; members sorted for stable hashing. The
    oracle computes the same components with a recursive transitive-closure
    CTE — feasible only because the pair graph is small; the Spark side is
    the 100-TB path (per-round equi-join + min-agg, lineage checkpointed)."""
    comp = _lsh_components(spark, sf_dir)
    return comp.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        arr_join(F.sort_array(F.collect_list("node")), "string").alias("members"),
    )


_CC_SQL = (
    _SHINGLES_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + _MINHASH_PAIRS_CORE
    + """
, pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
edges AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION
    SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
    FROM reach GROUP BY a
)
SELECT cluster_id, COUNT(*) AS n_docs,
       array_to_string(list_transform(list_sort(list(doc_id)), x -> CAST(x AS VARCHAR)), ',') AS members
FROM comp GROUP BY cluster_id
"""
)


def _simhash_sql() -> str:
    """DuckDB mirror of :func:`dedup_simhash`: 16 generated per-bit
    majority expressions over the same md5-derived token hashes — flips
    SimHash from rows-only to a full value-hash oracle."""
    th = "list_transform(t, x -> CAST(('0x' || substr(md5(x), 1, 4)) AS BIGINT))"
    bit_terms = []
    for b in range(16):
        votes = (
            f"list_reduce(list_prepend(0, list_transform(th, "
            f"h -> CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)), "
            f"(a, c) -> a + c)"
        )
        bit_terms.append(f"(CASE WHEN {votes} > 0 THEN {1 << b} ELSE 0 END)")
    sh = " + ".join(bit_terms)
    return _TOKS_CTE + f"""
, th_t AS (SELECT doc_id, {th} AS th FROM toks)
, hashed AS (SELECT doc_id, CAST({sh} AS BIGINT) AS simhash FROM th_t)
SELECT simhash, CAST(count(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS keeper_id
FROM hashed GROUP BY simhash HAVING count(*) > 1
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash buckets (per-bit majority of md5 token hashes):
    docs sharing a bucket are near-dup candidates. The md5 hash family
    makes the whole signature engine-portable — the oracle regenerates the
    16 per-bit majority expressions and the value hashes must agree.

    Votes are CODEGEN'D AGGREGATES over exploded token rows, not array-HOF
    folds: the fold form re-walks every token array 16× in interpreted
    lambdas (measured 37.5 s at sf≈1); exploding once and summing 16
    conditional bit columns map-side keeps the whole signature in
    whole-stage codegen (the operators/dedup minhash lesson). Duplicate
    tokens keep their multiplicity — standard SimHash weighting (the array
    form runs on tx.tokens, which also keeps duplicates)."""
    docs = ensure_compute_partitions(
        load_table(spark, sf_dir, "documents", ["doc_id", "text"]), "doc_id"
    )
    tok = docs.select(
        "doc_id", F.explode_outer(tx.tokens("text")).alias("t")
    ).where(F.col("t").isNotNull())
    h = F.conv(F.substring(F.md5("t"), 1, 4), 16, 10).cast("bigint")
    votes = tok.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"v{b}")
            for b in range(16)
        ]
    )
    sim = None
    for b in range(16):
        piece = F.when(
            F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("bigint"), b)
        ).otherwise(F.lit(0).cast("bigint"))
        sim = piece if sim is None else sim + piece
    hashed = votes.select("doc_id", sim.alias("simhash"))
    return (
        hashed.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_id"))
        .where(F.col("n_docs") > 1)
    )


def corpus_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample (salted md5-bucket draw, independent
    of the split assignment) with per-lang token totals."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "lang", "text"])
    sample = deterministic_sample(docs, "doc_id", 0.10, salt="s1")
    return sample.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tx.token_count("text")).alias("total_tokens"),
    )


_SAMPLE_SQL = r"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT) AS total_tokens
FROM documents
WHERE CAST(('0x' || substr(md5('s1' || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 10000 < 1000
GROUP BY lang
"""


def corpus_mix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixing: down-weight three sources to 25% while
    keeping the rest whole (operators/sampling.py:stratified_sample); counts
    per source after the mix."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "source"])
    mixed = stratified_sample(
        docs, "doc_id", "source",
        rates={"src1": 0.25, "src3": 0.25, "src5": 0.25},
        default_rate=1.0,
    )
    return mixed.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


_MIX_SQL = """
SELECT source, COUNT(*) AS n_docs
FROM documents
WHERE CAST(('0x' || substr(md5(concat_ws('|', source, CAST(doc_id AS VARCHAR))), 1, 7)) AS BIGINT)
      % 10000
      < CASE source WHEN 'src1' THEN 2500 WHEN 'src3' THEN 2500 WHEN 'src5' THEN 2500
                    ELSE 10000 END
GROUP BY 1
"""


def temperature_mix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source reweighting (α = 0.5, the multilingual-LM
    mixing rule): sample source s at rate √(n_min/n_s), so post-mix source
    shares follow p^α renormalized — small sources keep everything, large
    sources are flattened toward uniform. The rates are DATA-DEPENDENT
    (computed from the per-source census, broadcast back onto the scan), and
    the per-doc draw hashes (source, doc_id) so re-weighting one source
    never changes another source's kept set. sqrt/floor on bigint ratios is
    IEEE-exact → identical thresholds in any engine, value-hash oracle.

    100-TB shape: one census aggregate (map-side combined), a broadcast join
    of the tiny rate table onto the corpus scan, and a filter that prunes
    before any downstream stage ever sees the dropped rows."""
    from platform_etl_drug_disease_spark.operators.sampling import BUCKETS, md5_bucket

    docs = load_table(spark, sf_dir, "documents", ["doc_id", "source"])
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    n_min = counts.agg(F.min("n_total").alias("n_min"))
    rates = (
        counts.crossJoin(F.broadcast(n_min))
        .select(
            "source",
            "n_total",
            F.floor(F.sqrt(F.col("n_min") / F.col("n_total")) * BUCKETS)
            .cast("bigint")
            .alias("thresh"),
        )
        .persist()
    )
    key = F.concat_ws("|", F.col("source"), F.col("doc_id").cast("string"))
    kept = (
        docs.join(F.broadcast(rates.select("source", "thresh")), "source")
        .where(md5_bucket(key) < F.col("thresh"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return rates.join(kept, "source", "left").select(
        "source",
        "n_total",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        "thresh",
    )


_TEMP_MIX_SQL = """
WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total
           FROM documents GROUP BY source),
mn AS (SELECT MIN(n_total) AS n_min FROM c),
r AS (SELECT source, n_total,
             CAST(FLOOR(sqrt(n_min * 1.0 / n_total) * 10000) AS BIGINT) AS thresh
      FROM c CROSS JOIN mn),
k AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM documents d JOIN r USING (source)
      WHERE CAST(('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 7))
                 AS BIGINT) % 10000 < r.thresh
      GROUP BY d.source)
SELECT r.source, r.n_total,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept, r.thresh
FROM r LEFT JOIN k USING (source)
"""


def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter: per document, the fraction of
    trigram occurrences taken by the single most-repeated trigram (counting
    multiplicity — boilerplate/spam repeats phrases) plus lexical diversity,
    and a boolean low-quality verdict at literal thresholds. All JVM column
    arithmetic + one (doc, gram) count aggregation — no text ever shuffles
    beyond the grams themselves."""
    from platform_etl_drug_disease_spark.plans.retrieval import _load_docs

    docs = _load_docs(spark, sf_dir, ["doc_id", "text"])
    toks = docs.withColumn("__t", tx.tokens("text"))
    base = toks.select(
        "doc_id",
        F.size("__t").alias("n_tokens"),
        F.round(tx.distinct_token_ratio_of("__t"), 6).alias("frac_distinct"),
    )
    # explode_outer + null filter: plain explode's inferred size()>0 filter
    # sinks below the repartition and re-runs the trigram transform twice on
    # the unsplit scan partition (see plans/retrieval.boilerplate_span_stats).
    grams = toks.select(
        "doc_id",
        F.explode_outer(tx.raw_shingles_from_tokens("__t", 3)).alias("g"),
    ).where(F.col("g").isNotNull())
    rep = (
        grams.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("doc_id")
        .agg(
            F.max("__c").alias("__mx"),
            F.count(F.lit(1)).alias("__ndistinct"),
            F.sum("__c").alias("__tot"),
        )
        .select(
            "doc_id",
            F.round(
                F.col("__mx").cast("double") / F.col("__tot").cast("double"), 6
            ).alias("max_trigram_frac"),
        )
    )
    out = base.join(rep, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "frac_distinct",
        F.coalesce("max_trigram_frac", F.lit(0.0)).alias("max_trigram_frac"),
    )
    return out.withColumn(
        "low_quality",
        (F.col("frac_distinct") < 0.3) | (F.col("max_trigram_frac") > 0.2),
    )


_REPETITION_SQL = _TOKS_CTE + """
, grams AS (
    SELECT doc_id,
           unnest(CASE WHEN len(t) >= 3
                       THEN list_transform(range(1, len(t) - 1),
                                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                       ELSE CAST([] AS VARCHAR[]) END) AS g
    FROM toks
),
gc AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g),
rep AS (SELECT doc_id, round(MAX(c) * 1.0 / SUM(c), 6) AS max_trigram_frac
        FROM gc GROUP BY doc_id),
base AS (
    SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
           round(len(list_distinct(t)) * 1.0 / nullif(len(t), 0), 6)
               AS frac_distinct
    FROM toks
)
SELECT b.doc_id, b.n_tokens, b.frac_distinct,
       COALESCE(r.max_trigram_frac, 0.0) AS max_trigram_frac,
       (b.frac_distinct < 0.3 OR COALESCE(r.max_trigram_frac, 0.0) > 0.2)
           AS low_quality
FROM base b LEFT JOIN rep r USING (doc_id)
"""


def decontaminate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination sweep: every ``doc_id % 100 == 0`` document
    stands in for a held-out eval set; a training document is CONTAMINATED if
    it shares any trigram shingle with that probe set. Per source: documents
    screened and documents flagged.

    Scale shape: the probe shingle vocabulary is tiny relative to the corpus
    (eval sets always are), so it broadcasts and contamination is a
    broadcast LEFT SEMI join on the shingle — the corpus never shuffles, and
    the only aggregation is per-source counts. This is the standard
    n-gram-overlap decontamination pass (the eval set and n
    are parameters in a real pipeline)."""
    from platform_etl_drug_disease_spark.plans.retrieval import _load_docs

    docs = _load_docs(spark, sf_dir, ["doc_id", "text", "source"])
    # persist: the shingled corpus fans out (probe vocabulary + train side),
    # and the cache boundary also stops the explode-inferred size()>0 filter
    # from sinking the shingle expression below the repartition exchange.
    sh = tx.with_shingles(docs, "text", 3).persist()
    probe_sh = (
        sh.where(F.col("doc_id") % 100 == 0)
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    train = sh.where(F.col("doc_id") % 100 != 0)
    contaminated = (
        train.select("doc_id", F.explode("sh").alias("shingle"))
        .join(F.broadcast(probe_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__flag", F.lit(1))
    )
    return (
        train.select("doc_id", "source")
        .join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.col("__flag")).alias("n_contaminated"),
        )
    )


_DECONTAM_SQL = _TOKS_CTE + """
, sh AS (
    SELECT doc_id, source,
           CASE WHEN len(t) >= 3
                THEN list_distinct(list_transform(range(1, len(t) - 1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                ELSE CAST([] AS VARCHAR[]) END AS sh
    FROM toks
),
probe AS (SELECT DISTINCT unnest(sh) AS ps FROM sh WHERE doc_id % 100 = 0),
train AS (SELECT doc_id, source, sh FROM sh WHERE doc_id % 100 <> 0),
contam AS (
    SELECT DISTINCT doc_id
    FROM (SELECT doc_id, unnest(sh) AS s FROM train) e
    WHERE s IN (SELECT ps FROM probe)
)
SELECT t.source, COUNT(*) AS n_docs,
       COUNT(c.doc_id) AS n_contaminated
FROM train t LEFT JOIN contam c USING (doc_id)
GROUP BY t.source
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: docs with ``doc_id % 10 == 0`` play the
    incoming batch, the rest the existing corpus; the batch is matched
    against the corpus LSH index (band-key equi-join + count-verified
    Jaccard ≥ 0.5) — per-batch cost tracks the batch, never the corpus
    (operators/dedup.incremental_minhash_matches)."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return incremental_minhash_matches(
        docs.where(F.col("doc_id") % 10 == 0),
        docs.where(F.col("doc_id") % 10 != 0),
        "doc_id",
        "text",
        shingle_n=3,
        n_hashes=16,
        n_bands=4,
        threshold=0.5,
    )


_INCREMENTAL_SQL = _SHINGLES_CTE + _SIGS_CTE + """
, banded AS (
    SELECT doc_id,
           unnest(list_transform(range(0, 4), b -> concat_ws('#',
               CAST(b AS VARCHAR),
               sig[b*4+1], sig[b*4+2], sig[b*4+3], sig[b*4+4]))) AS band_key
    FROM sigs
), cands AS (
    SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
    FROM banded n JOIN banded c ON n.band_key = c.band_key
    WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
), verified AS (
    SELECT ca.new_id, ca.corpus_id,
           round(len(list_filter(sn.sh, s -> list_contains(sc.sh, s))) * 1.0
                 / (len(sn.sh) + len(sc.sh)
                    - len(list_filter(sn.sh, s -> list_contains(sc.sh, s)))), 6)
               AS jaccard
    FROM cands ca
    JOIN sh sn ON ca.new_id = sn.doc_id
    JOIN sh sc ON ca.corpus_id = sc.doc_id
)
SELECT new_id, corpus_id, jaccard FROM verified WHERE jaccard >= 0.5
"""


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that can never leak near-duplicates across
    splits: the md5-bucket split key is the near-dup CLUSTER id (MinHash-LSH
    pairs → connected components; singleton docs are their own cluster), so
    a cluster moves as a unit. Reports per-split doc/cluster counts plus the
    global count of straddling clusters — provably 0, and the oracle checks
    that 0, not just the counts. Composes the two scale paths already proven
    separately (banded LSH candidates, per-round equi-join components); the
    extra cost over a naive doc-id split is one small join on doc_id."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    comp = _lsh_components(spark, sf_dir).withColumnRenamed(
        "node", "doc_id"
    )
    membership = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("cluster_id")
        )
    )
    assigned = membership.withColumn(
        "split", split_assign("cluster_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    ).persist()
    leaky = (
        assigned.groupBy("cluster_id")
        .agg(F.count_distinct("split").alias("ns"))
        .agg(
            F.sum(F.when(F.col("ns") > 1, 1).otherwise(0))
            .cast("long")
            .alias("leaky_clusters")
        )
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("cluster_id").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leaky))
    )


_LEAKAGE_SQL = _CC_SQL[: _CC_SQL.rindex("SELECT cluster_id")] + """,
allc AS (
    SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c USING (doc_id)
),
asg AS (
    SELECT doc_id, cluster_id,
           CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, cluster_id,
                 CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 7))
                      AS BIGINT) % 10000 AS b
          FROM allc)
),
lk AS (
    SELECT CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS leaky_clusters
    FROM (SELECT cluster_id, COUNT(DISTINCT split) AS ns
          FROM asg GROUP BY cluster_id)
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       lk.leaky_clusters
FROM asg CROSS JOIN lk
GROUP BY split, lk.leaky_clusters
"""


QUERIES = {
    "text_stats": text_stats,
    "corpus_sample_stats": corpus_sample_stats,
    "corpus_mix_stats": corpus_mix_stats,
    "token_fingerprints": token_fingerprints,
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard_topk": dedup_ngram_jaccard_topk,
    "dedup_containment_topk": dedup_containment_topk,
    "dedup_containment_minhash_topk": dedup_containment_minhash_topk,
    "containment_recall_audit": containment_recall_audit,
    "containment_incremental": containment_incremental,
    "quoted_span_stats": quoted_span_stats,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_recall_audit": dedup_recall_audit,
    "dedup_cluster_components": dedup_cluster_components,
    "dedup_simhash": dedup_simhash,
    "repetition_quality": repetition_quality,
    "decontaminate_stats": decontaminate_stats,
    "dedup_incremental": dedup_incremental,
    "leakage_safe_split": leakage_safe_split,
    "temperature_mix_stats": temperature_mix_stats,
}

ORACLES = {
    "text_stats": _TEXT_STATS_SQL,
    "corpus_sample_stats": _SAMPLE_SQL,
    "corpus_mix_stats": _MIX_SQL,
    "token_fingerprints": _TOKEN_FP_SQL,
    "dedup_exact": _DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard_topk": _JACCARD_TOPK_SQL,
    "dedup_containment_topk": _CONTAINMENT_SQL,
    "dedup_containment_minhash_topk": _CONTAINMENT_MINHASH_SQL,
    "containment_recall_audit": _containment_recall_audit_sql(),
    "containment_incremental": _CONTAINMENT_INCR_SQL,
    "quoted_span_stats": _QUOTED_SPAN_SQL,
    "dedup_minhash_lsh": _MINHASH_SQL,
    "dedup_recall_audit": _recall_audit_sql(),
    "dedup_cluster_components": _CC_SQL,
    "dedup_simhash": _simhash_sql(),
    "repetition_quality": _REPETITION_SQL,
    "decontaminate_stats": _DECONTAM_SQL,
    "dedup_incremental": _INCREMENTAL_SQL,
    "leakage_safe_split": _LEAKAGE_SQL,
    "temperature_mix_stats": _TEMP_MIX_SQL,
}


# ---------------------------------------------------------------------------
# repeated-substring removal (Lee et al. 2022 "Deduplicating Training Data
# Makes Language Models Better", distributed form)
# ---------------------------------------------------------------------------
# Exact substring dedup at span granularity: every W-token window that occurs
# more than once in the corpus is marked for removal, overlapping marks are
# coalesced per document (operators/intervals.py gaps-and-islands merge), and
# the census reports how many tokens each source loses. Differs from
# boilerplate_span_stats (frequency census, no removal semantics) in that
# spans are MERGED — the output is the exact retained-token accounting a
# tokenizer shard would see.
#
# Scale shape: grams travel as xxhash64 longs (internal join/group keys only
# — the oracle groups the raw gram strings; counts agree absent a 64-bit
# collision), the dup-gram table is an equi-join back onto occurrences
# (output bounded by occurrence count, never quadratic), and the merge
# shuffles spans once keyed by doc_id.

_SUB_W = 8


def substring_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source repeated-substring accounting: docs, docs containing any
    duplicated W-gram, total tokens, removed (merged-span) tokens, kept."""
    from platform_etl_drug_disease_spark.operators.intervals import merge_intervals

    docs = ensure_compute_partitions(
        load_table(spark, sf_dir, "documents", ["doc_id", "source", "text"]),
        "doc_id",
    )
    base = (
        docs.select("doc_id", "source", tx.tokens("text").alias("t"))
        .withColumn("n", F.size("t"))
        .persist()  # consumed twice: occurrence explode + final census
    )
    starts = F.when(F.col("n") >= _SUB_W, F.sequence(F.lit(0), F.col("n") - _SUB_W))
    occ = (
        base.select("doc_id", "t", F.explode_outer(starts).alias("pos"))
        .where(F.col("pos").isNotNull())
        .select(
            "doc_id",
            "pos",
            F.xxhash64(
                F.array_join(F.slice(F.col("t"), F.col("pos") + 1, _SUB_W), " ")
            ).alias("gram"),
        )
    )
    dup = (
        occ.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .select("gram")
    )
    spans = occ.join(dup, "gram").select(
        "doc_id",
        F.col("pos").alias("start"),
        (F.col("pos") + _SUB_W).alias("end"),
    )
    merged = merge_intervals(spans, ["doc_id"])
    per_doc = merged.groupBy("doc_id").agg(
        F.sum(F.col("end") - F.col("start")).alias("removed")
    )
    removed = F.coalesce(F.col("removed"), F.lit(0))
    return (
        base.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((removed > 0).cast("bigint")).alias("docs_with_dups"),
            F.sum("n").alias("total_tokens"),
            F.sum(removed).alias("removed_tokens"),
            (F.sum("n") - F.sum(removed)).alias("kept_tokens"),
        )
    )


_SUBSTR_SQL = _TOKS_CTE + f"""
, base AS (
    SELECT doc_id, source, t, len(t) AS n FROM toks
), occ AS (
    SELECT doc_id, t, unnest(range(0, n - {_SUB_W} + 1)) AS pos
    FROM base WHERE n >= {_SUB_W}
), grams AS (
    SELECT doc_id, pos,
           list_aggregate(t[pos + 1 : pos + {_SUB_W}], 'string_agg', ' ') AS gram
    FROM occ
), dup AS (
    SELECT gram FROM grams GROUP BY gram HAVING count(*) > 1
), spans AS (
    SELECT doc_id, pos AS s, pos + {_SUB_W} AS e
    FROM grams JOIN dup USING (gram)
), marked AS (
    SELECT doc_id, s, e,
           max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
    FROM spans
), islands AS (
    SELECT doc_id, s, e,
           SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM marked
), merged AS (
    SELECT doc_id, min(s) AS s, max(e) AS e FROM islands GROUP BY doc_id, island
), per_doc AS (
    SELECT doc_id, SUM(e - s) AS removed FROM merged GROUP BY doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN coalesce(removed, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS docs_with_dups,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       CAST(SUM(coalesce(removed, 0)) AS BIGINT) AS removed_tokens,
       CAST(SUM(n) - SUM(coalesce(removed, 0)) AS BIGINT) AS kept_tokens
FROM base LEFT JOIN per_doc USING (doc_id)
GROUP BY source
"""

QUERIES["substring_dedup_stats"] = substring_dedup_stats
ORACLES["substring_dedup_stats"] = _SUBSTR_SQL


# suffix-ranking census knobs: anchors = the census' W-grams (repeats below
# _LR_W tokens are below curation interest, as in substring_dedup_stats);
# anchors shared by more than _LR_CAP suffixes are boilerplate mass excluded
# and DISCLOSED (n_capped_* columns) — they are the df-capped shingle
# family's job.
_LR_W = 8
_LR_CAP = 512

def _suffix_ranking(
    spark: SparkSession,
    sf_dir: str,
    frames: tuple[DataFrame, DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``(per_suffix, capped)`` from operators/dedup.longest_repeat_lengths
    at the census knobs (``_LR_W``, ``_LR_CAP``) over the snapshot's
    ``documents``. Both frames are eager ``localCheckpoint``s, so a query
    may read them more than once."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return longest_repeat_lengths(
        docs, "doc_id", "text", w=_LR_W, max_anchor_df=_LR_CAP, frames=frames
    )


def _lm_starts(per_suffix: DataFrame) -> DataFrame:
    """LEFT-MAXIMAL repeat starts (doc_id, pos, repeat_len): one lag-window
    pass over the per-suffix frame keeps the suffixes that START a maximal
    span (``r(pos−1) < r(pos)+1`` or no adjacent predecessor — the
    ``top_repeated_spans`` rule), unfiltered by length. Dup-mass-bounded:
    at most one row per qualifying suffix, in practice one per maximal
    span occurrence."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        per_suffix.withColumn("__ppos", F.lag("pos").over(w))
        .withColumn("__pr", F.lag("repeat_len").over(w))
        .where(
            F.col("__ppos").isNull()
            | (F.col("__ppos") != F.col("pos") - 1)
            | (F.col("__pr") < F.col("repeat_len") + 1)
        )
        .select("doc_id", "pos", "repeat_len")
    )


def _keep_one_removals(docs: DataFrame, per_suffix: DataFrame) -> DataFrame:
    """Keep-one REMOVAL occurrence set (doc_id, pos, repeat_len):
    left-maximal spans of ≥ ``_STRIP_LEN`` tokens, identified by the md5
    of their text (sliced from the family's sanitized token array — the
    digest shuffles, the text never does), with the lexicographically-first
    (doc_id, pos) occurrence per identity RETAINED and every other
    occurrence listed for removal (``repeat_keep_one_retention``'s
    removal set)."""
    starts = _lm_starts(per_suffix).where(F.col("repeat_len") >= _STRIP_LEN)
    toks = docs.select("doc_id", lr_tokens("text").alias("__t"))
    span = F.array_join(
        F.slice("__t", F.col("pos") + 1, F.col("repeat_len").cast("int")), " "
    )
    occs = starts.join(toks, "doc_id").select(
        "doc_id", "pos", "repeat_len", F.md5(span).alias("span_md5")
    )
    kw = Window.partitionBy("span_md5").orderBy("doc_id", "pos")
    return (
        occs.withColumn("__rk", F.row_number().over(kw))
        .where(F.col("__rk") > 1)
        .select("doc_id", "pos", "repeat_len")
    )


def _interval_removed(occ: DataFrame) -> DataFrame:
    """(doc_id, __removed) token counts from the INTERVAL UNION of the
    occurrence intervals [pos, pos+repeat_len) — the strip/retention
    family's shared coverage pass. prev_end = running max of earlier
    interval ends (exclusive of the current row), so each interval
    contributes only its uncovered tail; overlapping intervals are never
    double-counted. One doc-keyed window + one doc-keyed rollup."""
    wcov = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        occ.withColumn(
            "__prev", F.max(F.col("pos") + F.col("repeat_len")).over(wcov)
        )
        .withColumn(
            "__contrib",
            F.greatest(
                F.col("pos")
                + F.col("repeat_len")
                - F.greatest(
                    F.coalesce(F.col("__prev"), F.lit(0)), F.col("pos")
                ),
                F.lit(0),
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("__contrib").cast("bigint").alias("__removed"))
    )


def longest_repeat_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT arbitrary-length repeated-substring census:
    for every token-position suffix sharing ≥ ``_LR_W`` leading tokens with
    another suffix anywhere in the corpus, the exact length of its longest
    shared prefix — grouped into (repeat_len, n_suffixes, n_docs) rows.
    This is the Lee et al. 2022 suffix-array longest-repeat semantics that
    ``substring_dedup_stats``'s fixed-W marks only bound from below: a
    23-token verbatim repeat shows up here as repeat_len=23 (and 22, 21, …
    for the interior suffixes), where W-gram marks can only say "≥ 8".

    Spark side: operators/dedup.longest_repeat_lengths — distributed suffix
    ranking by prefix doubling (O(log max_repeat) rounds, bytes shipped
    linear in duplicated token mass; see the operator docstring for the
    cost argument). Oracle side: DuckDB recomputes the same repeat_len
    single-node the easy way (full-suffix sort within anchor groups +
    adjacent list-LCP) — the engines share only the DEFINITION, not the
    algorithm, which is exactly what makes the hash match meaningful.
    ``n_capped_anchors``/``n_capped_suffixes`` disclose the excluded
    boilerplate mass on every row (constant 1-row broadcast — no silent
    caps). A constant ``repeat_len = 0`` sentinel row is always present so
    the disclosure survives even an ALL-capped corpus, where the census
    proper is empty and a bare cross join would return zero rows —
    silently eating the one signal that says why."""
    per_suffix, capped = _suffix_ranking(spark, sf_dir)
    census = per_suffix.groupBy("repeat_len").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suffixes"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
    ).select(F.col("repeat_len").cast("bigint").alias("repeat_len"), "n_suffixes", "n_docs")
    sentinel = spark.range(1).select(
        F.lit(0).cast("bigint").alias("repeat_len"),
        F.lit(0).cast("bigint").alias("n_suffixes"),
        F.lit(0).cast("bigint").alias("n_docs"),
    )
    return census.unionByName(sentinel).crossJoin(F.broadcast(capped)).select(
        "repeat_len",
        "n_suffixes",
        "n_docs",
        "n_capped_anchors",
        "n_capped_suffixes",
    )


# list-LCP in DuckDB, mirroring operators/dedup._word_lcp op-for-op:
# list_zip pads the shorter list with NULL, IS DISTINCT FROM marks the first
# disagreement, list_position returns 0 when never true (= one list is a
# full prefix of the other).
def _lr_lcp_sql(a: str, b: str) -> str:
    pos = (
        f"list_position(list_transform(list_zip({a}, {b}), "
        f"x -> x[1] IS DISTINCT FROM x[2]), true)"
    )
    return (
        f"CASE WHEN {b} IS NULL THEN NULL "
        f"WHEN {pos} = 0 THEN least(len({a}), len({b})) "
        f"ELSE {pos} - 1 END"
    )


# shared core (through per-suffix exact repeat lengths `lrlen`) of the
# census and top-spans oracles — appended directly after _TOKS_CTE.
_LR_CORE_SQL = (
    f"""
, lrtoks AS (
    -- suffix-family tokenization (operators/dedup.lr_tokens mirror): the
    -- family's \\x00/\\x01 sort-separator bytes are stripped from the TEXT
    -- before the whitespace split, closing the separator-ambiguity hole on
    -- both engines. Identical to toks on any corpus
    -- free of the two bytes.
    SELECT doc_id, lang, source,
           string_split_regex(trim(lower(
               regexp_replace(text, '[\\x00\\x01]', '', 'g'))), '\\s+') AS t
    FROM documents
),
lrbase AS (SELECT doc_id, t, len(t) AS n FROM lrtoks WHERE len(t) >= {_LR_W}),
lrocc AS (
    SELECT doc_id, unnest(range(0, n - {_LR_W} + 1)) AS pos, t, n FROM lrbase
),
lranch AS (
    SELECT doc_id, pos,
           list_aggregate(t[pos + 1 : pos + {_LR_W}], 'string_agg', ' ')
               AS anchor,
           t[pos + 1 : n] AS suf
    FROM lrocc
),
lrcnt AS (SELECT anchor, COUNT(*) AS c FROM lranch GROUP BY anchor),
lrhot AS (
    SELECT CAST(COALESCE(SUM(CASE WHEN c > {_LR_CAP} THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_capped_anchors,
           CAST(COALESCE(SUM(CASE WHEN c > {_LR_CAP} THEN c ELSE 0 END), 0)
                AS BIGINT) AS n_capped_suffixes
    FROM lrcnt
),
lrq AS (
    -- sort-key separator chr(1), not ' ': string order must refine token-
    -- prefix order, and C0 control chars inside tokens sort below ' '
    -- (mirrors the Spark operator's \x01 convention — including its
    -- disclosed limits: tokens containing chr(0) OR chr(1) itself make
    -- the joined key ambiguous, so the EXACT claim assumes tokens are
    -- free of both; both engines share the convention, so parity holds
    -- regardless).
    SELECT a.doc_id, a.pos, a.anchor, a.suf,
           list_aggregate(a.suf, 'string_agg', chr(1)) AS suf_str
    FROM lranch a JOIN lrcnt USING (anchor)
    WHERE lrcnt.c BETWEEN 2 AND {_LR_CAP}
),
lrnb AS (
    SELECT doc_id, pos, suf,
           lag(suf) OVER lw AS psuf,
           lead(suf) OVER lw AS nsuf
    FROM lrq WINDOW lw AS (PARTITION BY anchor ORDER BY suf_str, doc_id, pos)
),
lrlen AS (
    SELECT doc_id, pos,
           CAST(greatest(COALESCE({{lcp_p}}, 0), COALESCE({{lcp_n}}, 0))
                AS BIGINT) AS repeat_len
    FROM lrnb
)
"""
).format(
    lcp_p=_lr_lcp_sql("suf", "psuf"),
    lcp_n=_lr_lcp_sql("suf", "nsuf"),
)

_LONGEST_REPEAT_SQL = (
    _TOKS_CTE
    + _LR_CORE_SQL
    + """
, lrcensus AS (
    SELECT repeat_len,
           CAST(COUNT(*) AS BIGINT) AS n_suffixes,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM lrlen GROUP BY repeat_len
    UNION ALL
    SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
)
SELECT c.repeat_len, c.n_suffixes, c.n_docs,
       h.n_capped_anchors, h.n_capped_suffixes
FROM lrcensus c, lrhot h
"""
)

QUERIES["longest_repeat_census"] = longest_repeat_census
ORACLES["longest_repeat_census"] = _LONGEST_REPEAT_SQL


def top_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 longest maximal repeated substrings in the corpus, as
    artifacts: (span_tokens, n_occurrences, n_docs, span_md5, span_head) —
    the question a curation run asks right after the census says "there is
    a 2,000-token repeat": WHAT is it, how often, and across how many
    docs? span_md5 identifies the exact text without shipping it;
    span_head (first 8 tokens) is the human handle.

    Built on the same per-suffix exact repeat lengths as
    ``longest_repeat_census`` (operators/dedup.longest_repeat_lengths).
    A suffix starts a MAXIMAL span iff the suffix one token earlier does
    not already carry a repeat that covers it (``r(pos−1) ≥ r(pos)+1`` —
    the left-maximality rule; without it every interior suffix of a long
    repeat would list as its own span). PRECISE COUNT SEMANTICS:
    ``n_occurrences``/``n_docs`` count LEFT-MAXIMAL starts of the span —
    an occurrence embedded one token inside a longer repeat (span S
    preceded by the same token x at two of its three sites, making "x S"
    itself a repeat) is attributed to the LONGER span's row ("x S": 2)
    and not double-counted under S (S: 1); the rows partition the
    repeated-start mass rather than overlapping.
    ``n_capped_anchors``/``n_capped_suffixes`` carry the operator's
    boilerplate-cap disclosure on every row — a span whose
    start suffix sits in a > cap anchor group is absent from the listing,
    and these columns are the signal saying so (no silent caps; the same
    convention as the census). Span text is fetched by slicing the token
    array only for the (duplicate-mass-bounded) start set; the global
    top-20 cut is (span_tokens DESC, span_md5) — a TakeOrderedAndProject,
    no corpus-wide single-partition sort, and deterministic because md5
    is unique per distinct span text."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    per_suffix, capped = _suffix_ranking(spark, sf_dir)
    starts = _lm_starts(per_suffix)
    # lr_tokens, not tx.tokens: per-suffix positions live in the family's
    # sanitized token space, so the span slice must use the same array
    toks = docs.select("doc_id", lr_tokens("text").alias("__t"))
    # span text is reduced to (md5, head-8) BEFORE the group shuffle: the
    # group key is the 32-char digest, never the span text itself — a
    # 100-TB repeat can be megabytes, and md5-grouping is value-identical
    # to text-grouping (the repo-wide birthday-bounded hash convention; the
    # oracle groups the raw text). span_head is span-determined, so min()
    # is a deterministic carry.
    span = F.array_join(
        F.slice("__t", F.col("pos") + 1, F.col("repeat_len").cast("int")), " "
    )
    spans = starts.join(toks, "doc_id").select(
        "doc_id",
        "repeat_len",
        F.md5(span).alias("span_md5"),
        F.array_join(
            F.slice("__t", F.col("pos") + 1, _LR_W), " "
        ).alias("span_head"),
    )
    grouped = spans.groupBy("span_md5", "repeat_len").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.min("span_head").alias("span_head"),
    )
    out = grouped.select(
        F.col("repeat_len").cast("bigint").alias("span_tokens"),
        "n_occurrences",
        "n_docs",
        "span_md5",
        "span_head",
    )
    # constant sentinel row (span_tokens = 0) exactly as in the census: on
    # an ALL-capped corpus the top-20 proper is empty and a bare cross join
    # would return zero rows, eating the n_capped_* disclosure.
    sentinel = spark.range(1).select(
        F.lit(0).cast("bigint").alias("span_tokens"),
        F.lit(0).cast("bigint").alias("n_occurrences"),
        F.lit(0).cast("bigint").alias("n_docs"),
        F.lit("").alias("span_md5"),
        F.lit("").alias("span_head"),
    )
    return (
        out.orderBy(F.col("span_tokens").desc(), "span_md5")
        .limit(20)
        .unionByName(sentinel)
        .crossJoin(F.broadcast(capped))
    )


_TOP_SPANS_SQL = (
    _TOKS_CTE
    + _LR_CORE_SQL
    + f"""
, lrstarts AS (
    SELECT doc_id, pos, repeat_len FROM (
        SELECT doc_id, pos, repeat_len,
               lag(pos) OVER sw AS ppos,
               lag(repeat_len) OVER sw AS pr
        FROM lrlen WINDOW sw AS (PARTITION BY doc_id ORDER BY pos)
    ) WHERE ppos IS NULL OR ppos != pos - 1 OR pr < repeat_len + 1
),
lrspans AS (
    SELECT s.doc_id, s.repeat_len,
           list_aggregate(t.t[s.pos + 1 : s.pos + CAST(s.repeat_len AS INT)],
                          'string_agg', ' ') AS span
    FROM lrstarts s JOIN lrtoks t USING (doc_id)
),
lrgrp AS (
    SELECT span, repeat_len,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM lrspans GROUP BY span, repeat_len
),
lrtop AS (
    SELECT CAST(repeat_len AS BIGINT) AS span_tokens, n_occurrences, n_docs,
           md5(span) AS span_md5,
           list_aggregate(string_split(span, ' ')[1:{_LR_W}], 'string_agg', ' ')
               AS span_head
    FROM lrgrp
    ORDER BY span_tokens DESC, span_md5
    LIMIT 20
),
lrout AS (
    SELECT * FROM lrtop
    UNION ALL
    SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), '', ''
)
SELECT o.span_tokens, o.n_occurrences, o.n_docs, o.span_md5, o.span_head,
       h.n_capped_anchors, h.n_capped_suffixes
FROM lrout o, lrhot h
"""
)

QUERIES["top_repeated_spans"] = top_repeated_spans
ORACLES["top_repeated_spans"] = _TOP_SPANS_SQL


# boilerplate-strip knobs shared by `repeat_keep_one_retention` and the
# release pipeline's strip stage: token positions
# covered by an exact repeat of >= _STRIP_LEN tokens (Lee et al. 2022's
# ~50-BPE-token ExactSubstr threshold, in whitespace tokens) are
# strip-eligible; a doc whose post-strip effective length falls below
# _STRIP_MIN_EFF is a boilerplate husk and is dropped (and counted).
_STRIP_LEN = 24
_STRIP_MIN_EFF = 16


def repeat_keep_one_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEEP-ONE ExactSubstr retention accounting (Lee et al. 2022's
    keep-one-copy variant — the counterpart of the release pipeline's
    remove-all strip stage, at the SAME ≥ ``_STRIP_LEN``-token threshold):
    for every maximal repeated span, the lexicographically-first
    (doc_id, pos) occurrence is the canonical copy and is RETAINED; every
    other occurrence's token interval is removed. Per source: docs, docs
    losing tokens, total/removed/retained token mass — i.e. "what would
    the corpus keep if dedup kept one copy of each long repeat instead of
    stripping them all". The removal rows come from
    ``_keep_one_removals``.

    Semantics: spans are LEFT-MAXIMAL starts (``top_repeated_spans``' rule)
    with repeat_len ≥ the strip threshold; span identity is the md5 of the
    span text (slice-join against the doc-partitioned token table — the
    digest shuffles, the text never does); removals are interval-unioned
    per doc, so overlapping removals are never double-counted. Retention
    is a per-TOKEN accounting: a kept canonical copy can still lose tokens
    to a DIFFERENT overlapping span's removal — the guarantee is one
    retained occurrence per span identity, not an untouched document.

    Scale shape: everything after the shared doubling loop is bounded by
    the left-maximal start set (duplicate mass), never the corpus: the
    keeper rank window shuffles 32-char digests + two bigints, the
    interval union is doc-keyed, and the rollup is per-source with
    map-side partials. Sentinel + n_capped_* disclosure as everywhere in
    the family."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "source", "text"])
    per_suffix, capped = _suffix_ranking(spark, sf_dir)
    cov = _interval_removed(_keep_one_removals(docs, per_suffix))
    toks = docs.select(
        "doc_id", "source", tx.tokens("text").alias("__t")
    )
    agg = (
        toks.select(
            "doc_id", "source", tx.token_count_of(F.col("__t")).alias("__n")
        )
        .join(cov, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count("__removed").cast("bigint").alias("n_docs_affected"),
            F.sum("__n").cast("bigint").alias("tokens_total"),
            F.coalesce(F.sum("__removed"), F.lit(0)).cast("bigint").alias(
                "tokens_removed"
            ),
            (
                F.sum("__n") - F.coalesce(F.sum("__removed"), F.lit(0))
            ).cast("bigint").alias("tokens_retained"),
        )
    )
    sentinel = spark.range(1).select(
        F.lit("").alias("source"),
        F.lit(0).cast("bigint").alias("n_docs"),
        F.lit(0).cast("bigint").alias("n_docs_affected"),
        F.lit(0).cast("bigint").alias("tokens_total"),
        F.lit(0).cast("bigint").alias("tokens_removed"),
        F.lit(0).cast("bigint").alias("tokens_retained"),
    )
    return agg.unionByName(sentinel).crossJoin(F.broadcast(capped)).select(
        "source",
        "n_docs",
        "n_docs_affected",
        "tokens_total",
        "tokens_removed",
        "tokens_retained",
        "n_capped_anchors",
        "n_capped_suffixes",
    )


# the keep-one removal set k1rem mirrors _keep_one_removals
_KEEP_ONE_SQL = (
    _TOKS_CTE
    + _LR_CORE_SQL
    + f"""
, k1starts AS (
    SELECT doc_id, pos, repeat_len FROM (
        SELECT doc_id, pos, repeat_len,
               lag(pos) OVER sw AS ppos,
               lag(repeat_len) OVER sw AS pr
        FROM lrlen WINDOW sw AS (PARTITION BY doc_id ORDER BY pos)
    ) WHERE (ppos IS NULL OR ppos != pos - 1 OR pr < repeat_len + 1)
          AND repeat_len >= {_STRIP_LEN}
),
k1occ AS (
    SELECT s.doc_id, s.pos, s.repeat_len,
           md5(list_aggregate(
               t.t[s.pos + 1 : s.pos + CAST(s.repeat_len AS INT)],
               'string_agg', ' ')) AS span_md5
    FROM k1starts s JOIN lrtoks t USING (doc_id)
),
k1rem AS (
    SELECT doc_id, pos, repeat_len FROM (
        SELECT *, row_number() OVER (PARTITION BY span_md5
                      ORDER BY doc_id, pos) AS rk
        FROM k1occ
    ) WHERE rk > 1
),
k1cov0 AS (
    SELECT doc_id, pos, repeat_len,
           MAX(pos + repeat_len) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
    FROM k1rem
),
k1cov AS (
    SELECT doc_id,
           CAST(SUM(GREATEST(pos + repeat_len
                - GREATEST(COALESCE(prev_end, 0), pos), 0)) AS BIGINT)
               AS removed
    FROM k1cov0 GROUP BY doc_id
),
k1src AS (
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN c.removed IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_affected,
           CAST(SUM(len(t.t)) AS BIGINT) AS tokens_total,
           CAST(COALESCE(SUM(c.removed), 0) AS BIGINT) AS tokens_removed,
           CAST(SUM(len(t.t)) - COALESCE(SUM(c.removed), 0) AS BIGINT)
               AS tokens_retained
    FROM toks t LEFT JOIN k1cov c USING (doc_id)
    GROUP BY t.source
    UNION ALL
    SELECT '', CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT)
)
SELECT s.source, s.n_docs, s.n_docs_affected, s.tokens_total,
       s.tokens_removed, s.tokens_retained,
       h.n_capped_anchors, h.n_capped_suffixes
FROM k1src s, lrhot h
"""
)

QUERIES["repeat_keep_one_retention"] = repeat_keep_one_retention
ORACLES["repeat_keep_one_retention"] = _KEEP_ONE_SQL


# sampled-estimator knobs: the estimator exists for anchors BEYOND the
# census' _LR_CAP (where exact truth is unaffordable), but an audit must run
# where truth IS affordable — the df ∈ (_CRE_MIN_DF, _LR_CAP] band — so the
# catalog row compares estimate vs truth on real data at every scale.
# The production knobs (min_anchor_df=_LR_CAP, max_anchor_df=None,
# sample_per_anchor=64) run in no catalog query: on the test snapshots no
# anchor exceeds the cap, so such a query would return only its sentinel.
# tests/test_extensions.py::test_sampled_repeat_lengths_planted_giant_anchor
# pins that path on a planted >cap anchor.
_CRE_MIN_DF = 2
_CRE_S = 2


def capped_repeat_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-interior repeat-length ESTIMATE vs exact truth. The exact
    census excludes anchors hotter than ``_LR_CAP`` and
    discloses the mass; ``operators/dedup.sampled_repeat_lengths`` covers
    that excluded interior by running the same prefix-doubling loop over a
    deterministic ≤``sample_per_anchor`` md5-ranked sample per anchor, with
    Horvitz-Thompson weights (anchor_df / n_sampled) extrapolating sampled
    counts back to the anchor mass — the machinery
    ``containment_recall_audit`` already uses for its truth stage.

    This catalog row is the estimator's AUDIT: it runs the estimator on the
    df ∈ (2, cap] band — where the exact ``_suffix_ranking`` still
    carries the truth — and reports, per repeat_len, the
    sampled count, the HT-extrapolated estimate, and the exact count
    side-by-side. Estimated lengths are within-sample values (lower bounds
    of the corpus-wide truth: a 2-suffix sample may miss the true max-LCP
    neighbour), so the estimated distribution sits left of the true one —
    visibly, honestly, and identically in both engines: the sample is
    md5-deterministic, so the whole row set value-hashes against the DuckDB
    oracle (no rows-only weakening).

    Scale shape: estimator cost is bounded by n_band_anchors ×
    sample_per_anchor regardless of anchor heat (the reason the operator
    exists); the estimator and the exact truth share one tokenized base and
    anchor-count table (the operators' ``frames`` hook); the est/truth
    join is on the tiny repeat_len key. A constant repeat_len=0 sentinel
    keeps the disclosure visible on an empty band."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    # both suffix operators below read the same tokenized base and anchor
    # counts, several times each: checkpoint the pair once for the query
    base = suffix_base_plan(docs, "doc_id", "text", _LR_W).localCheckpoint()
    cnt = suffix_anchor_counts(base, "doc_id", _LR_W).localCheckpoint()
    frames = (base, cnt)
    sampled, selected, disc = sampled_repeat_lengths(
        docs,
        "doc_id",
        "text",
        w=_LR_W,
        min_anchor_df=_CRE_MIN_DF,
        max_anchor_df=_LR_CAP,
        sample_per_anchor=_CRE_S,
        return_selected=True,  # the audit joins it against exact truth
        frames=frames,
    )
    est = sampled.groupBy("repeat_len").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled_suffixes"),
        F.floor(F.sum("anchor_df") / F.lit(_CRE_S))
        .cast("bigint")
        .alias("est_n_suffixes"),
    )
    per_suffix, _capped = _suffix_ranking(spark, sf_dir, frames)
    truth = (
        per_suffix.join(selected, ["doc_id", "pos"])
        .groupBy("repeat_len")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_n_suffixes"))
    )
    joined = est.join(truth, "repeat_len", "full_outer").select(
        F.col("repeat_len").cast("bigint").alias("repeat_len"),
        F.coalesce(F.col("n_sampled_suffixes"), F.lit(0))
        .cast("bigint")
        .alias("n_sampled_suffixes"),
        F.coalesce(F.col("est_n_suffixes"), F.lit(0))
        .cast("bigint")
        .alias("est_n_suffixes"),
        F.coalesce(F.col("true_n_suffixes"), F.lit(0))
        .cast("bigint")
        .alias("true_n_suffixes"),
    )
    sentinel = spark.range(1).select(
        F.lit(0).cast("bigint").alias("repeat_len"),
        F.lit(0).cast("bigint").alias("n_sampled_suffixes"),
        F.lit(0).cast("bigint").alias("est_n_suffixes"),
        F.lit(0).cast("bigint").alias("true_n_suffixes"),
    )
    band = disc.select(
        F.col("n_selected_anchors").alias("n_band_anchors"),
        F.col("n_selected_suffixes").alias("n_band_suffixes"),
    )
    return (
        joined.unionByName(sentinel)
        .crossJoin(F.broadcast(band))
        .withColumn(
            "sample_per_anchor", F.lit(_CRE_S).cast("bigint")
        )
    )


_CRE_SQL = (
    _TOKS_CTE
    + _LR_CORE_SQL
    + f"""
, creband AS (
    SELECT anchor, c FROM lrcnt WHERE c > {_CRE_MIN_DF} AND c <= {_LR_CAP}
),
crecand AS (
    SELECT a.doc_id, a.pos, a.anchor, a.suf, b.c
    FROM lranch a JOIN creband b USING (anchor)
),
creranked AS (
    SELECT doc_id, pos, anchor, suf, c,
           row_number() OVER (PARTITION BY anchor
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':'
                            || CAST(pos AS VARCHAR)),
                        doc_id, pos) AS rk
    FROM crecand
),
cresamp AS (
    -- chr(1) separator: same order-refinement convention (and disclosed
    -- limits) as the exact family's lrq above.
    SELECT doc_id, pos, anchor, suf, c,
           list_aggregate(suf, 'string_agg', chr(1)) AS suf_str
    FROM creranked WHERE rk <= {_CRE_S}
),
crenb AS (
    SELECT doc_id, pos, c, suf,
           lag(suf) OVER cw AS psuf,
           lead(suf) OVER cw AS nsuf
    FROM cresamp WINDOW cw AS (PARTITION BY anchor ORDER BY suf_str, doc_id, pos)
),
crelen AS (
    SELECT c,
           CAST(greatest(COALESCE({{lcp_p}}, 0), COALESCE({{lcp_n}}, 0))
                AS BIGINT) AS repeat_len
    FROM crenb
),
creest AS (
    SELECT repeat_len,
           CAST(COUNT(*) AS BIGINT) AS n_sampled_suffixes,
           CAST(SUM(c) // {_CRE_S} AS BIGINT) AS est_n_suffixes
    FROM crelen GROUP BY repeat_len
),
cretruth AS (
    SELECT l.repeat_len, CAST(COUNT(*) AS BIGINT) AS true_n_suffixes
    FROM lrlen l JOIN (SELECT doc_id, pos FROM crecand) b USING (doc_id, pos)
    GROUP BY l.repeat_len
),
crejoin AS (
    SELECT COALESCE(e.repeat_len, t.repeat_len) AS repeat_len,
           CAST(COALESCE(e.n_sampled_suffixes, 0) AS BIGINT)
               AS n_sampled_suffixes,
           CAST(COALESCE(e.est_n_suffixes, 0) AS BIGINT) AS est_n_suffixes,
           CAST(COALESCE(t.true_n_suffixes, 0) AS BIGINT) AS true_n_suffixes
    FROM creest e FULL OUTER JOIN cretruth t ON e.repeat_len = t.repeat_len
    UNION ALL
    SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT)
),
creh AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_band_anchors,
           CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_band_suffixes
    FROM creband
)
SELECT j.repeat_len, j.n_sampled_suffixes, j.est_n_suffixes,
       j.true_n_suffixes, h.n_band_anchors, h.n_band_suffixes,
       CAST({_CRE_S} AS BIGINT) AS sample_per_anchor
FROM crejoin j, creh h
"""
).format(
    lcp_p=_lr_lcp_sql("suf", "psuf"),
    lcp_n=_lr_lcp_sql("suf", "nsuf"),
)

QUERIES["capped_repeat_estimate"] = capped_repeat_estimate
ORACLES["capped_repeat_estimate"] = _CRE_SQL


# ---------------------------------------------------------------------------
# BPE vocabulary induction: the merge-pair counting step
# ---------------------------------------------------------------------------
# The inner loop of byte-pair-encoding training is "count every adjacent
# symbol pair, weighted by word frequency; merge the argmax". The count is
# the distributed-scale piece (the merge itself is a driver-side argmax over
# |pairs| rows), and the classic trick applies verbatim in Spark: aggregate
# the corpus to its DISTINCT-WORD frequency table first, then explode
# character pairs over the vocabulary — pair work scales with |vocab|, not
# corpus tokens. Top pairs are reported with the same TakeOrderedAndProject
# + k-row window pattern as bm25_search (no corpus-wide one-partition sort).

_BPE_TOP_K = 20


def bpe_merge_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character pairs by frequency-weighted count — BPE
    training step 0 over the whitespace vocabulary."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    vocab = (
        docs.select(F.explode_outer(tx.tokens("text")).alias("word"))
        .where(F.col("word").isNotNull() & (F.col("word") != ""))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pair_idx = F.when(
        F.length("word") >= 2, F.sequence(F.lit(1), F.length("word") - 1)
    )
    pairs = (
        vocab.select(
            "freq", F.explode_outer(pair_idx).alias("i"), F.col("word")
        )
        .where(F.col("i").isNotNull())
        .select(F.substring(F.col("word"), F.col("i"), 2).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
    )
    top = pairs.orderBy(F.col("pair_count").desc(), F.col("pair")).limit(_BPE_TOP_K)
    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "rank", "pair", "pair_count"
    )


_BPE_SQL = _TOKS_CTE + f"""
, words AS (
    SELECT unnest(t) AS word FROM toks
), vocab AS (
    SELECT word, CAST(count(*) AS BIGINT) AS freq
    FROM words WHERE word IS NOT NULL AND word != ''
    GROUP BY word
), pairs AS (
    SELECT substr(word, i, 2) AS pair, freq
    FROM (SELECT word, freq, unnest(range(1, len(word))) AS i
          FROM vocab WHERE len(word) >= 2)
), counted AS (
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM pairs GROUP BY pair
), ranked AS (
    SELECT pair, pair_count,
           CAST(row_number() OVER (ORDER BY pair_count DESC, pair) AS INTEGER)
               AS rank
    FROM counted
)
SELECT rank, pair, pair_count FROM ranked WHERE rank <= {_BPE_TOP_K}
"""

QUERIES["bpe_merge_pair_stats"] = bpe_merge_pair_stats
ORACLES["bpe_merge_pair_stats"] = _BPE_SQL


def _bpe_occ_dictseg(spark: SparkSession, sf_dir: str):
    """Shared BPE-apply substrate for ``bpe_encode_stats`` and its audit
    twin: per-source word occurrences (persisted) and the segmented distinct-
    word dictionary (persisted — the Arrow UDF runs once per VOCAB word, so
    cost is ∝ vocabulary regardless of corpus size). The 20-row merge table
    is collected driver-side deliberately: it is the tokenizer artifact,
    config-sized by definition."""
    from platform_etl_drug_disease_spark.operators.bpe import segment_dictionary

    docs = load_table(spark, sf_dir, "documents", ["source", "text"])
    occ = (
        docs.withColumn("__toks", tx.tokens("text"))
        .select("source", F.explode_outer("__toks").alias("word"))
        .where(F.col("word").isNotNull() & (F.col("word") != ""))
        .persist()
    )
    vocab = occ.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    pair_idx = F.when(
        F.length("word") >= 2, F.sequence(F.lit(1), F.length("word") - 1)
    )
    top_pairs = (
        vocab.select("freq", F.explode_outer(pair_idx).alias("i"), "word")
        .where(F.col("i").isNotNull())
        .select(F.substring(F.col("word"), F.col("i"), 2).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(20)
    )
    merges = [r.pair for r in top_pairs.collect()]
    dictseg = segment_dictionary(vocab.select("word"), merges).persist()
    return occ, dictseg


def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY (operators/bpe.py): induce a 20-merge table from
    the corpus pair counts, segment the distinct-word dictionary with the
    Arrow-batched Pandas UDF, join pieces back to word occurrences, and
    report per-source compression: word count, piece count, pieces/word,
    distinct piece vocabulary.

    Rows-only by design: the greedy merge loop is not SQL-expressible; the
    segmentation semantics are pinned by tests/test_extensions.py (known
    merges → known pieces, concatenation invariant, dictionary-path ≡
    per-occurrence path). The 20-row merge list is collected driver-side
    deliberately — it is the tokenizer artifact, config-sized by definition.
    """
    occ, dictseg = _bpe_occ_dictseg(spark, sf_dir)
    joined = occ.join(dictseg.select("word", "n_pieces"), "word")
    base = joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_pieces").cast("bigint").alias("n_pieces"),
    )
    piece_vocab = (
        occ.select("source", "word")
        .distinct()
        .join(dictseg.select("word", "pieces"), "word")
        .select("source", F.explode("pieces").alias("piece"))
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_distinct_pieces"))
    )
    return base.join(piece_vocab, "source").select(
        "source",
        "n_words",
        "n_pieces",
        "n_distinct_pieces",
        dround(F.col("n_pieces") / F.col("n_words"), 6).alias("pieces_per_word"),
    )


QUERIES["bpe_encode_stats"] = bpe_encode_stats
# bpe_encode_stats: rows-only by design (greedy merge loop is not
# SQL-expressible); semantics pinned by unit tests instead. Its hash-provable
# audit twin is bpe_roundtrip_audit below.


def bpe_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``bpe_encode_stats``'s driver-provable audit twin:
    the greedy merge loop itself is not SQL-expressible, so the oracle never
    reproduces the segmentation — instead the output carries (a) exact
    tokenizer-level counts a SQL oracle CAN compute (per-source word
    occurrences and distinct words), and (b) deterministic invariant booleans
    over the actual BPE-apply output that the oracle asserts as TRUE
    literals: ``lossless_ok`` — every distinct word's pieces concatenate
    back to the word (the round-trip property that makes a tokenizer safe to
    ship), and ``bounds_ok`` — 1 ≤ n_pieces = |pieces| ≤ |word| with no
    empty piece (pieces partition the word's characters). A broken merge
    table, UDF batch boundary bug, or dictionary-path/occurrence-path skew
    flips a boolean and fails the value hash.

    Plan shape: flags are computed once per VOCAB word on the segmented
    dictionary; the per-(source, word) occurrence counts aggregate FIRST
    (map-side combinable), then join the word-level flags — so the audit
    adds only a vocab-sized join to the shared substrate, and distinct-word
    counting is a count over the grouped table, never a countDistinct beside
    a regular aggregate (the Expand pathology)."""
    occ, dictseg = _bpe_occ_dictseg(spark, sf_dir)
    wordstats = occ.groupBy("source", "word").agg(
        F.count(F.lit(1)).alias("__occ")
    )
    flags = dictseg.select(
        "word",
        (F.concat_ws("", F.col("pieces")) != F.col("word"))
        .cast("int")
        .alias("__viol_lossless"),
        (
            (F.col("n_pieces") < 1)
            | (F.col("n_pieces") > F.length("word"))
            | (F.size("pieces") != F.col("n_pieces"))
            | F.exists("pieces", lambda p: p == F.lit(""))
        )
        .cast("int")
        .alias("__viol_bounds"),
    )
    return (
        wordstats.join(flags, "word")
        .groupBy("source")
        .agg(
            F.sum("__occ").cast("bigint").alias("n_words"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_words"),
            (F.sum("__viol_lossless") == 0).alias("lossless_ok"),
            (F.sum("__viol_bounds") == 0).alias("bounds_ok"),
        )
    )


# Tokenizer-level counts mirror operators.text.tokens exactly (lower, trim,
# split on \s+, drop empty tokens); the segmentation invariants are asserted
# as literals — see the docstring for why that is the provable surface.
_BPE_AUDIT_SQL = r"""
WITH occ AS (
    SELECT source,
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
    FROM documents
), f AS (
    SELECT source, word FROM occ WHERE word IS NOT NULL AND word != ''
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(COUNT(DISTINCT word) AS BIGINT) AS n_distinct_words,
       TRUE AS lossless_ok,
       TRUE AS bounds_ok
FROM f GROUP BY source
"""

QUERIES["bpe_roundtrip_audit"] = bpe_roundtrip_audit
ORACLES["bpe_roundtrip_audit"] = _BPE_AUDIT_SQL


_EPOCHS = {"src0": 2.5, "src1": 0.4, "src2": 3.0}
_EPOCH_SALT = "ep1:"


def corpus_epoch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch mixing audit (operators/sampling.py:epoch_upsample):
    src0 × 2.5, src1 × 0.4, src2 × 3.0, everything else × 1 — per source,
    the emitted row count, surviving distinct docs, repeated chars and the
    realized multiplicity. The oracle replays the identical md5 draw, so
    the exact copy-set (not just the expectation) is pinned."""
    from platform_etl_drug_disease_spark.operators.sampling import epoch_upsample

    docs = load_table(spark, sf_dir, "documents", ["doc_id", "source", "n_chars"])
    up = epoch_upsample(docs, "doc_id", _EPOCHS, "source", 1.0, _EPOCH_SALT)
    return up.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.max("epoch_idx").cast("int").alias("max_epoch_idx"),
        dround(
            F.count(F.lit(1)) * F.lit(1.0) / F.countDistinct("doc_id"), 6
        ).alias("multiplicity"),
    )


def _epoch_case() -> str:
    import math

    arms = []
    for name, e in _EPOCHS.items():
        base, frac = int(math.floor(e)), e - math.floor(e)
        arms.append(
            f"WHEN '{name}' THEN {base} + "
            f"CASE WHEN b < {int(round(frac * 10000))} THEN 1 ELSE 0 END"
        )
    return "CASE source " + " ".join(arms) + " ELSE 1 END"


_EPOCH_SQL = f"""
WITH d AS (
    SELECT doc_id, source, n_chars,
           CAST(('0x' || substr(md5('{_EPOCH_SALT}' || source || '|' ||
                                    CAST(doc_id AS VARCHAR)), 1, 7))
                AS BIGINT) % 10000 AS b
    FROM documents
), c AS (
    SELECT doc_id, source, n_chars, {_epoch_case()} AS n FROM d
), e AS (
    SELECT doc_id, source, n_chars, unnest(range(0, n)) AS epoch_idx
    FROM c WHERE n > 0
)
SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(max(epoch_idx) AS INTEGER) AS max_epoch_idx,
       floor(count(*) * 1.0 / count(DISTINCT doc_id) * 1e6 + 0.5) / 1e6
           AS multiplicity
FROM e GROUP BY source
"""

QUERIES["corpus_epoch_stats"] = corpus_epoch_stats
ORACLES["corpus_epoch_stats"] = _EPOCH_SQL


# ---------------------------------------------------------------------------
# corpus-level source overlap: exact inter-source shingle Jaccard + the
# bounded-state KMV (k-minimum-values) estimate that replaces it at scale
# ---------------------------------------------------------------------------
# The curation question "how much of source B is already in source A?" needs
# the Jaccard similarity of the SOURCES' shingle sets, not per-document
# pairs. Exact |A∩B| requires joining the distinct-(source, shingle) table
# with itself on the shingle — fan-out per shingle is bounded by
# (#sources choose 2), never by corpus size, so it is safe while sources
# stay in the hundreds. The KMV synopsis (Bar-Yossef et al. 2002) is the
# 100-TB path: each source is summarized by its k smallest shingle hashes
# (k·#sources state, one top-k-per-group pass), and Jaccard is estimated as
# the fraction of the union's KMV that lands in A∩B. Both paths are emitted
# side by side; md5 hashes sort identically in Spark and DuckDB, so even the
# ESTIMATE is value-hash reproducible in the oracle.

_KMV_K = 128


def source_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # partition-follows-compute: the shingling map stage must not run on
    # however few splits the file layout gives (1 partition = 1 core; the
    # sf≈1 probe measured 173 s single-split vs seconds spread).
    docs = ensure_compute_partitions(
        load_table(spark, sf_dir, "documents", ["doc_id", "text", "source"]),
        "doc_id",
    )
    sh = tx.with_shingles(docs, "text", 3)
    # explode_outer + null filter, not plain explode: InferFiltersFromGenerate
    # would sink a size(sh) > 0 constraint below the repartition exchange and
    # re-run shingling on the unsplit scan core (the ec1e5e0 pathology —
    # measured 22 s → 2 s here). Null rows are short docs with no shingles.
    src_sh = (
        sh.select("source", F.explode_outer("sh").alias("shingle"))
        .where(F.col("shingle").isNotNull())
        .distinct()
        .persist()
    )
    sizes = src_sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        src_sh.alias("a")
        .join(src_sh.alias("b"), "shingle")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_intersect"))
    )
    # KMV sketch via mergeable two-phase min-k: a
    # `row_number() OVER (PARTITION BY source ORDER BY h) <= K` form sorts
    # every source's full distinct-shingle hash set on a single reducer
    # each. KMV is mergeable by construction, so bounded_min_k takes a
    # capped sorted min-K per (source, hash-sub-bucket) and re-merges the
    # ≤256×K survivors per source — identical array, no per-source sort.
    kmv = bounded_min_k(
        src_sh.select("source", F.md5("shingle").alias("h")),
        ["source"],
        "h",
        _KMV_K,
        "kmv",
    )
    sa = sizes.join(kmv, "source").select(
        F.col("source").alias("source_a"), F.col("n").alias("n_a"),
        F.col("kmv").alias("kmv_a"),
    )
    sb = sizes.join(kmv, "source").select(
        F.col("source").alias("source_b"), F.col("n").alias("n_b"),
        F.col("kmv").alias("kmv_b"),
    )
    pairs = (
        sa.crossJoin(sb)
        .where(F.col("source_a") < F.col("source_b"))
        .join(inter, ["source_a", "source_b"], "left")
        .withColumn("n_intersect", F.coalesce("n_intersect", F.lit(0)))
    )
    u_kmv = F.slice(
        F.array_sort(F.array_union(F.col("kmv_a"), F.col("kmv_b"))), 1, _KMV_K
    )
    in_both = F.array_intersect(F.col("kmv_a"), F.col("kmv_b"))
    return pairs.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        "n_intersect",
        dround(
            F.col("n_intersect")
            / (F.col("n_a") + F.col("n_b") - F.col("n_intersect")).cast("double"),
            6,
        ).alias("jaccard_exact"),
        dround(
            F.size(F.array_intersect(u_kmv, in_both))
            / F.size(u_kmv).cast("double"),
            6,
        ).alias("jaccard_kmv"),
    )


_SOURCE_OVERLAP_SQL = r"""
WITH toks AS (
    SELECT source, string_split_regex(trim(lower(text)), '\s+') AS t
    FROM documents
), shing AS (
    SELECT source,
           CASE WHEN len(t) >= 3
                THEN list_distinct(list_transform(range(1, len(t) - 1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                ELSE CAST([] AS VARCHAR[]) END AS sh
    FROM toks
), src_sh AS (
    SELECT DISTINCT source, unnest(sh) AS shingle FROM shing
), sizes AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n FROM src_sh GROUP BY source
), inter AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_intersect
    FROM src_sh a JOIN src_sh b USING (shingle)
    WHERE a.source < b.source
    GROUP BY 1, 2
), kmv AS (
    SELECT source, list_sort(list(h)) AS kmv FROM (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM (SELECT source, md5(shingle) AS h FROM src_sh)
    ) WHERE rn <= 128 GROUP BY source
), pairs AS (
    SELECT sa.source AS source_a, sb.source AS source_b,
           sa.n AS n_a, sb.n AS n_b,
           COALESCE(i.n_intersect, 0) AS n_intersect,
           ka.kmv AS kmv_a, kb.kmv AS kmv_b
    FROM sizes sa
    JOIN sizes sb ON sa.source < sb.source
    JOIN kmv ka ON ka.source = sa.source
    JOIN kmv kb ON kb.source = sb.source
    LEFT JOIN inter i ON i.source_a = sa.source AND i.source_b = sb.source
), est AS (
    SELECT *,
           list_sort(list_distinct(list_concat(kmv_a, kmv_b)))[1:128] AS u_kmv
    FROM pairs
)
SELECT source_a, source_b, n_a, n_b, n_intersect,
       floor(n_intersect / CAST(n_a + n_b - n_intersect AS DOUBLE) * 1e6 + 0.5)
           / 1e6 AS jaccard_exact,
       floor(len(list_intersect(u_kmv, list_intersect(kmv_a, kmv_b)))
             / CAST(len(u_kmv) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS jaccard_kmv
FROM est
"""

QUERIES["source_overlap_jaccard"] = source_overlap_jaccard
ORACLES["source_overlap_jaccard"] = _SOURCE_OVERLAP_SQL


# ---------------------------------------------------------------------------
# importance-weighted corpus sampling (A-Res weighted reservoir)
# ---------------------------------------------------------------------------


def weighted_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted sample, 5 docs per source, via the deterministic
    A-Res weighted reservoir (operators/sampling.weighted_group_sample) —
    the curation op for "sample training docs proportional to token count
    (or quality weight), reproducibly". Inclusion is ∝ n_chars; the sample
    is a pure function of (salt, doc_id), so re-runs, engine changes, and
    corpus repartitioning cannot move it. One window shuffle, k-row state
    per source."""
    from platform_etl_drug_disease_spark.operators.sampling import (
        weighted_group_sample,
    )

    docs = load_table(spark, sf_dir, "documents", ["doc_id", "source", "n_chars"])
    out = weighted_group_sample(
        docs, "doc_id", "n_chars", "source", k=5, salt="ws1"
    )
    return out.select(
        "doc_id", "source", "n_chars", dround(-F.col("sample_key"), 6).alias("neg_key")
    )


_WEIGHTED_SAMPLE_SQL = """
WITH keyed AS (
    SELECT doc_id, source, n_chars,
           ln((CAST(('0x' || substr(md5('ws1' || CAST(doc_id AS VARCHAR)), 1, 13))
                    AS BIGINT) + 1.0) / (4503599627370496.0 + 1.0))
               / CAST(n_chars AS DOUBLE) AS k
    FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id)
              AS rk
    FROM keyed
)
SELECT doc_id, source, n_chars,
       floor(-k * 1e6 + 0.5) / 1e6 AS neg_key
FROM ranked WHERE rk <= 5
"""

QUERIES["weighted_sample_stats"] = weighted_sample_stats
ORACLES["weighted_sample_stats"] = _WEIGHTED_SAMPLE_SQL


# ---------------------------------------------------------------------------
# spelling-variant detection: deletion-neighborhood blocking + exact verify
# ---------------------------------------------------------------------------


def word_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 word pairs in the corpus vocabulary via FastSS
    deletion-neighborhood blocking (Bocek et al. 2007): each word's key set
    is itself plus every single-character deletion; two words at distance 1
    MUST share a key, so candidates come from an equi-join on keys — never
    the O(|V|²) cross join — and the native ``levenshtein`` verifies
    exactly. Candidate volume is Σ|w| per word (linear in vocabulary text),
    the right shape for million-word vocabularies at 100 TB.

    The fixture vocabulary is a clean 31-word list with no natural typos,
    so deterministic typos are PLANTED (3rd character dropped from every
    word of length ≥ 5, tagged df=0) — the same planted-ground-truth
    pattern as ``embedding_near_dup``; the oracle reproduces the plant."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    words = (
        docs.select(F.explode_outer(tx.tokens("text")).alias("w"))
        .where(F.col("w").isNotNull() & (F.length("w") > 0))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
    ).persist()  # consumed by plant + union + final annotation joins
    planted = (
        words.where(F.length("w") >= 5)
        .select(
            F.concat(
                F.substring("w", 1, 2), F.expr("substring(w, 4, length(w))")
            ).alias("w")
        )
        .distinct()
        .join(words, "w", "left_anti")  # don't re-add real words
        .select("w", F.lit(0).alias("df"))
    )
    vocab = words.unionByName(planted).persist()
    keys = vocab.select(
        "w",
        F.explode(
            F.concat(
                F.array(F.col("w")),
                F.expr(
                    "transform(sequence(1, length(w)), i -> "
                    "concat(substring(w, 1, i-1), substring(w, i+1, length(w))))"
                ),
            )
        ).alias("k"),
    ).distinct()
    cand = (
        keys.alias("a")
        .join(keys.alias("b"), "k")
        .where(F.col("a.w") < F.col("b.w"))
        .select(F.col("a.w").alias("word_a"), F.col("b.w").alias("word_b"))
        .distinct()
    )
    verified = cand.where(F.levenshtein("word_a", "word_b") == 1)
    da = vocab.select(F.col("w").alias("word_a"), F.col("df").alias("df_a"))
    db = vocab.select(F.col("w").alias("word_b"), F.col("df").alias("df_b"))
    return verified.join(da, "word_a").join(db, "word_b").select(
        "word_a", "word_b", "df_a", "df_b"
    )


_TYPO_SQL = r"""
WITH toks2 AS (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
    FROM documents
), words AS (
    SELECT w, CAST(count(*) AS BIGINT) AS df FROM toks2
    WHERE len(w) > 0 GROUP BY w
), planted AS (
    SELECT p.w, CAST(0 AS BIGINT) AS df FROM (
        SELECT DISTINCT substr(w, 1, 2) || substr(w, 4) AS w
        FROM words WHERE len(w) >= 5
    ) p WHERE NOT EXISTS (SELECT 1 FROM words x WHERE x.w = p.w)
), vocab AS (
    SELECT * FROM words UNION ALL SELECT * FROM planted
), keys_ AS (
    SELECT DISTINCT w, k FROM (
        SELECT w, unnest(list_concat([w],
            list_transform(range(1, len(w) + 1),
                i -> substr(w, 1, i - 1) || substr(w, i + 1)))) AS k
        FROM vocab
    )
), cand AS (
    SELECT DISTINCT a.w AS word_a, b.w AS word_b
    FROM keys_ a JOIN keys_ b USING (k)
    WHERE a.w < b.w
)
SELECT c.word_a, c.word_b, va.df AS df_a, vb.df AS df_b
FROM cand c
JOIN vocab va ON va.w = c.word_a
JOIN vocab vb ON vb.w = c.word_b
WHERE levenshtein(c.word_a, c.word_b) = 1
"""

QUERIES["word_typo_pairs"] = word_typo_pairs
ORACLES["word_typo_pairs"] = _TYPO_SQL


def source_quota_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-budget corpus quotas: allocate a 100,000-document budget across
    sources proportional to their character mass, by largest-remainder
    apportionment (operators/sampling.apportion_quota). Floor-only shares
    under-shoot and naive rounding misses the budget; this guarantees
    Σquota = budget exactly — the allocator that precedes per-source
    sampling in a mixing recipe. Pure integer div/mod → bit-exact oracle."""
    from platform_etl_drug_disease_spark.operators.sampling import (
        apportion_quota,
    )

    docs = load_table(spark, sf_dir, "documents", ["source", "n_chars"])
    return apportion_quota(docs, "source", "n_chars", total=100_000)


_QUOTA_SQL = """
WITH agg AS (
    SELECT source, SUM(CAST(n_chars AS HUGEINT)) AS w
    FROM documents GROUP BY source
), tot AS (SELECT SUM(w) AS tw FROM agg),
j AS (
    SELECT source, w, tw,
           (w * 100000) // tw AS base,
           (w * 100000) % tw AS rem
    FROM agg CROSS JOIN tot
), ranked AS (
    SELECT *,
           row_number() OVER (ORDER BY rem DESC, source) AS rk,
           100000 - SUM(base) OVER () AS leftover
    FROM j
)
SELECT source,
       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
           AS quota
FROM ranked
"""

QUERIES["source_quota_allocation"] = source_quota_allocation
ORACLES["source_quota_allocation"] = _QUOTA_SQL


def sample_extrapolation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling calibration audit: estimate corpus totals (docs, chars)
    per language from the deterministic 10% md5-bucket sample with
    inverse-probability (Horvitz–Thompson) weights, next to the exact
    totals and the signed relative error. The check that keeps
    sample-based dashboards honest before anyone trusts a 0.1% sample of
    100 TB.

    One scan computes BOTH sides: the sample membership predicate is a
    column, so exact and weighted sums come from the same aggregate —
    no second pass, no join."""
    from platform_etl_drug_disease_spark.operators.sampling import md5_bucket

    docs = load_table(spark, sf_dir, "documents", ["doc_id", "lang", "n_chars"])
    in_sample = (md5_bucket("doc_id", 10_000, "ht1") < 1000).cast("int")
    d = "decimal(38,0)"
    g = docs.select(
        "lang", in_sample.alias("s"), F.col("n_chars").cast(d).alias("ch")
    ).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ch").alias("chars"),
        F.sum("s").alias("n_sampled"),
        F.sum(F.col("s").cast(d) * F.col("ch")).alias("chars_sampled"),
    )
    est_docs = F.col("n_sampled").cast("double") * 10.0
    est_chars = F.col("chars_sampled").cast("double") * 10.0
    return g.select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_sampled").cast("bigint").alias("n_sampled"),
        dround(est_docs, 1).alias("est_docs"),
        dround(
            F.abs(est_docs - F.col("n_docs").cast("double"))
            / F.col("n_docs").cast("double"),
            6,
        ).alias("docs_rel_err"),
        dround(
            F.abs(est_chars - F.col("chars").cast("double"))
            / F.col("chars").cast("double"),
            6,
        ).alias("chars_rel_err"),
    )


_HT_SQL = """
WITH g AS (
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           SUM(CAST(n_chars AS HUGEINT)) AS chars,
           SUM(CASE WHEN CAST(('0x' || substr(md5('ht1' || CAST(doc_id AS VARCHAR)), 1, 7))
                             AS BIGINT) % 10000 < 1000 THEN 1 ELSE 0 END)
               AS n_sampled,
           SUM(CASE WHEN CAST(('0x' || substr(md5('ht1' || CAST(doc_id AS VARCHAR)), 1, 7))
                             AS BIGINT) % 10000 < 1000
                    THEN CAST(n_chars AS HUGEINT) ELSE 0 END) AS chars_sampled
    FROM documents GROUP BY lang
)
SELECT lang, n_docs,
       CAST(n_sampled AS BIGINT) AS n_sampled,
       floor(CAST(n_sampled AS DOUBLE) * 10.0 * 10 + 0.5) / 10 AS est_docs,
       floor(abs(CAST(n_sampled AS DOUBLE) * 10.0 - CAST(n_docs AS DOUBLE))
             / CAST(n_docs AS DOUBLE) * 1e6 + 0.5) / 1e6 AS docs_rel_err,
       floor(abs(CAST(chars_sampled AS DOUBLE) * 10.0 - CAST(chars AS DOUBLE))
             / CAST(chars AS DOUBLE) * 1e6 + 0.5) / 1e6 AS chars_rel_err
FROM g
"""

QUERIES["sample_extrapolation_audit"] = sample_extrapolation_audit
ORACLES["sample_extrapolation_audit"] = _HT_SQL


def source_coverage_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage over sources: three rounds of "pick the
    source adding the most NOT-yet-covered distinct shingles" — the
    data-acquisition ranking ("which 3 corpora buy the most new content?").
    Greedy is the canonical (1−1/e)-approximation; each round is one
    anti-join against the covered set + a per-source count + a 1-row
    argmax, all distributed (the covered set never leaves the cluster).
    Rounds are localCheckpoint-ed so the plan doesn't nest (the k-core
    lesson). Output: (round, source, marginal_new, covered_total).
    """
    docs = ensure_compute_partitions(
        load_table(spark, sf_dir, "documents", ["doc_id", "text", "source"]),
        "doc_id",
    )
    sh = tx.with_shingles(docs, "text", 3)
    src_sh = (
        sh.select("source", F.explode_outer("sh").alias("shingle"))
        .where(F.col("shingle").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    covered = None
    picked_names: list = []
    out = None
    for r in range(1, 4):
        remaining = src_sh
        if picked_names:
            remaining = remaining.where(~F.col("source").isin(picked_names))
        if covered is not None:
            remaining = remaining.join(covered, "shingle", "left_anti")
        counts = remaining.groupBy("source").agg(
            F.count(F.lit(1)).alias("marginal_new")
        )
        best = (
            counts.orderBy(F.col("marginal_new").desc(), "source")
            .limit(1)
            .localCheckpoint()
        )
        best_name = best.collect()[0]["source"]
        picked_names.append(best_name)
        newly = remaining.where(F.col("source") == best_name).select("shingle")
        covered = (
            newly
            if covered is None
            else covered.unionByName(newly)
        ).distinct().localCheckpoint()
        row = best.crossJoin(
            covered.agg(F.count(F.lit(1)).alias("covered_total"))
        ).select(F.lit(r).alias("round"), "source", "marginal_new", "covered_total")
        out = row if out is None else out.unionByName(row)
    return out


_GREEDY_SQL = r"""
WITH toks3 AS MATERIALIZED (
    SELECT source, string_split_regex(trim(lower(text)), '\s+') AS t
    FROM documents
), src_sh AS MATERIALIZED (
    SELECT DISTINCT source, shingle FROM (
        SELECT source,
               unnest(CASE WHEN len(t) >= 3
                   THEN list_distinct(list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                   ELSE CAST([] AS VARCHAR[]) END) AS shingle
        FROM toks3
    )
), b1 AS MATERIALIZED (
    SELECT source, CAST(count(*) AS BIGINT) AS marginal_new
    FROM src_sh GROUP BY source
    ORDER BY marginal_new DESC, source LIMIT 1
), c1 AS MATERIALIZED (
    SELECT DISTINCT shingle FROM src_sh WHERE source = (SELECT source FROM b1)
), b2 AS MATERIALIZED (
    SELECT source, CAST(count(*) AS BIGINT) AS marginal_new
    FROM src_sh s
    WHERE source != (SELECT source FROM b1)
      AND NOT EXISTS (SELECT 1 FROM c1 WHERE c1.shingle = s.shingle)
    GROUP BY source ORDER BY marginal_new DESC, source LIMIT 1
), c2 AS MATERIALIZED (
    SELECT shingle FROM c1
    UNION
    SELECT shingle FROM src_sh s
    WHERE source = (SELECT source FROM b2)
      AND NOT EXISTS (SELECT 1 FROM c1 WHERE c1.shingle = s.shingle)
), b3 AS MATERIALIZED (
    SELECT source, CAST(count(*) AS BIGINT) AS marginal_new
    FROM src_sh s
    WHERE source NOT IN (SELECT source FROM b1 UNION ALL SELECT source FROM b2)
      AND NOT EXISTS (SELECT 1 FROM c2 WHERE c2.shingle = s.shingle)
    GROUP BY source ORDER BY marginal_new DESC, source LIMIT 1
), c3 AS MATERIALIZED (
    SELECT shingle FROM c2
    UNION
    SELECT shingle FROM src_sh s
    WHERE source = (SELECT source FROM b3)
      AND NOT EXISTS (SELECT 1 FROM c2 WHERE c2.shingle = s.shingle)
)
SELECT 1 AS round, source, marginal_new,
       (SELECT CAST(count(*) AS BIGINT) FROM c1) AS covered_total FROM b1
UNION ALL
SELECT 2, source, marginal_new,
       (SELECT CAST(count(*) AS BIGINT) FROM c2) FROM b2
UNION ALL
SELECT 3, source, marginal_new,
       (SELECT CAST(count(*) AS BIGINT) FROM c3) FROM b3
"""

QUERIES["source_coverage_greedy"] = source_coverage_greedy
ORACLES["source_coverage_greedy"] = _GREEDY_SQL


# ---------------------------------------------------------------------------
# corpus release pipeline: the LLM-side flagship DAG (clean → split → pack)
# ---------------------------------------------------------------------------


def corpus_release_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-corpus release: exact-dedup keepers (min doc_id
    per content hash) filtered to quality ≥ 0.5, deterministically split
    80/10/10, BOILERPLATE-STRIPPED (token positions covered by an exact
    repeat ≥ ``_STRIP_LEN`` tokens — the suffix-ranking family consumed by
    the flagship DAG — are removed from the packing
    mass, and docs left with < ``_STRIP_MIN_EFF`` effective tokens are
    dropped as husks), then sequence-packed into ~4096-token bins per
    (split, lang); the release manifest reports, per split: documents,
    packed tokens, bins, mean bin fill, stripped token mass, and husk
    drops — the attrition waterfall. This is the LLM-side counterpart of
    the reference-parity ``drug_disease_pipeline`` — one DAG, every stage
    an operator this catalog already proves in isolation.

    Strip semantics: coverage is the INTERVAL UNION of [pos, pos+len) over
    the doc's ≥ ``_STRIP_LEN`` left-maximal repeat spans (one window + one
    rollup, both keyed by the high-cardinality doc_id; the union over
    left-maximal starts equals the union over all qualifying suffixes —
    every interior suffix's interval is contained in its left-maximal
    start's), so overlapping repeat starts are never double-counted.
    The strip removes ALL occurrences of a long repeat — the remove-all
    variant of Lee et al.'s ExactSubstr (``repeat_keep_one_retention``
    reports what the keep-one-copy variant would retain). A husk's own
    covered mass is accounted as its whole-doc drop, not in
    stripped_tokens. The census cap's excluded boilerplate mass
    (n_capped_*) is disclosed by the census queries.

    COMPOSITION CAVEAT (documented semantics): repeat coverage
    is computed over the PRE-dedup corpus, so a doc whose exact duplicates
    were removed by the dedup stage is still fully covered by those
    deleted copies' spans — the kept canonical copy husks out and
    duplicated content vanishes from the release entirely (dedup's "keep
    one copy" is intentionally overridden by the stricter boilerplate
    rule: content repeated ≥ _STRIP_LEN tokens is treated as boilerplate
    wherever it occurs, canonical or not, and the drop is visible in
    n_dropped_boilerplate).

    Scale shape: ONE tokenize pass feeds hash, quality, and token counts
    (persisted at the fan-out — three consumers); coverage takes the
    left-maximal starts (``_lm_starts``) of the ``_suffix_ranking``
    doubling loop and
    joins on doc_id pre-aggregated to one row per dup-carrying doc; dedup
    is a window, never a self-join; split membership is a pure
    hash function (no shuffle); the packing window runs per (split, lang)
    partition; the manifest is a |splits|-row rollup."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "lang", "text"])
    t = F.col("__toks")
    scored = (
        docs.withColumn("__toks", tx.tokens("text"))
        .select(
            "doc_id",
            "lang",
            F.md5("text").alias("__h"),
            tx.quality_score_of(t).alias("q"),
            tx.token_count_of(t).alias("n_tokens"),
        )
        .persist()  # fan-out: keeper window + quality filter + packing feed
    )
    w = Window.partitionBy("__h")
    clean = scored.withColumn(
        "__keep", F.min("doc_id").over(w) == F.col("doc_id")
    ).where(F.col("__keep") & (F.col("q") >= 0.5))
    split = clean.withColumn(
        "split", split_assign("doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    )
    # boilerplate coverage: interval union (shared _interval_removed pass)
    # of the doc's >= _STRIP_LEN left-maximal spans
    per_suffix, _capped = _suffix_ranking(spark, sf_dir)
    occ = _lm_starts(per_suffix).where(F.col("repeat_len") >= _STRIP_LEN)
    # checkpointed (one row per dup-carrying doc): the packing pass and the
    # husk count both read it
    cov = (
        _interval_removed(occ)
        .withColumnRenamed("__removed", "__covered")
        .localCheckpoint()
    )
    stripped = (
        split.join(cov, "doc_id", "left")
        .withColumn(
            "__covered", F.coalesce(F.col("__covered"), F.lit(0)).cast("bigint")
        )
        .withColumn(
            "n_eff", (F.col("n_tokens") - F.col("__covered")).cast("bigint")
        )
    )
    kept = stripped.where(F.col("n_eff") >= _STRIP_MIN_EFF)
    husks = (
        stripped.where(F.col("n_eff") < _STRIP_MIN_EFF)
        .groupBy("split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dropped_boilerplate"))
    )
    # packing prefix sum via two-phase scan: the naive
    # window partitions by (split, lang) — ~30 keys — which would funnel
    # every clean doc through ~30 reducers at scale. keyed_running_sum
    # buckets on doc_id ranges instead; `scored` upstream is persisted, so
    # the second pass re-reads cached narrow rows.
    packed = keyed_running_sum(
        kept, ["split", "lang"], "doc_id", "n_eff", "__cum", n_buckets=64
    ).withColumn(
        "bin", F.floor((F.col("__cum") - F.col("n_eff")) / F.lit(4096))
    )
    bins = packed.groupBy("split", "lang", "bin").agg(
        F.count(F.lit(1)).alias("docs_in_bin"),
        F.sum("n_eff").alias("bin_tokens"),
        F.sum("__covered").alias("bin_stripped"),
    )
    manifest = bins.groupBy("split").agg(
        F.sum("docs_in_bin").cast("bigint").alias("n_docs"),
        F.sum("bin_tokens").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_bins"),
        dround(
            F.sum("bin_tokens").cast("double") / F.count(F.lit(1)) / 4096.0, 6
        ).alias("mean_bin_fill"),
        F.sum("bin_stripped").cast("bigint").alias("stripped_tokens"),
    )
    # full outer: a split whose every doc was a husk still reports its drops
    return manifest.join(husks, "split", "full_outer").select(
        "split",
        F.coalesce(F.col("n_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
        F.coalesce(F.col("n_tokens"), F.lit(0))
        .cast("bigint")
        .alias("n_tokens"),
        F.coalesce(F.col("n_bins"), F.lit(0)).cast("bigint").alias("n_bins"),
        F.coalesce(F.col("mean_bin_fill"), F.lit(0.0)).alias("mean_bin_fill"),
        F.coalesce(F.col("stripped_tokens"), F.lit(0))
        .cast("bigint")
        .alias("stripped_tokens"),
        F.coalesce(F.col("n_dropped_boilerplate"), F.lit(0))
        .cast("bigint")
        .alias("n_dropped_boilerplate"),
    )


# Release-manifest oracle: strip coverage is every >= _STRIP_LEN suffix
# interval of lrlen, interval-union-identical to the Spark side's
# left-maximal start set (every interior suffix's interval is contained in
# its left-maximal start's).
_RELEASE_SQL = _TOKS_CTE + _LR_CORE_SQL + f"""
, relcov0 AS (
    SELECT doc_id, pos, repeat_len,
           MAX(pos + repeat_len) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
    FROM lrlen WHERE repeat_len >= {_STRIP_LEN}
), relcov AS (
    SELECT doc_id,
           CAST(SUM(GREATEST(pos + repeat_len
                - GREATEST(COALESCE(prev_end, 0), pos), 0)) AS BIGINT)
               AS covered
    FROM relcov0 GROUP BY doc_id
), scored AS (
    SELECT d.doc_id, d.lang, md5(d.text) AS h,
           round(0.4 * least(len(t) / 64.0, 1.0)
               + 0.4 * coalesce(len(list_distinct(t)) * 1.0 / nullif(len(t), 0), 0.0)
               + 0.2 * least(coalesce(len(list_filter(t, x -> list_contains(
                     ['the','a','an','of','and','to','in','is','it','for'], x)))
                     * 1.0 / nullif(len(t), 0), 0.0) * 4.0, 1.0), 6) AS q,
           len(t) AS n_tokens
    FROM toks JOIN documents d USING (doc_id)
), clean AS (
    SELECT * FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY h) = doc_id AS keep
        FROM scored
    ) WHERE keep AND q >= 0.5
), split AS (
    SELECT *,
           CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
                          AS BIGINT) % 10000 < 8000 THEN 'train'
                WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
                          AS BIGINT) % 10000 < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM clean
), strippedrel AS (
    SELECT s.*, CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered,
           CAST(s.n_tokens - COALESCE(c.covered, 0) AS BIGINT) AS n_eff
    FROM split s LEFT JOIN relcov c USING (doc_id)
), huskrel AS (
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_dropped_boilerplate
    FROM strippedrel WHERE n_eff < {_STRIP_MIN_EFF} GROUP BY split
), packed AS (
    SELECT *,
           CAST(floor((SUM(n_eff) OVER (PARTITION BY split, lang
                        ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_eff) / 4096.0) AS BIGINT) AS bin
    FROM strippedrel WHERE n_eff >= {_STRIP_MIN_EFF}
), bins AS (
    SELECT split, lang, bin, count(*) AS docs_in_bin,
           SUM(n_eff) AS bin_tokens, SUM(covered) AS bin_stripped
    FROM packed GROUP BY 1, 2, 3
), manifest AS (
    SELECT split,
           CAST(SUM(docs_in_bin) AS BIGINT) AS n_docs,
           CAST(SUM(bin_tokens) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_bins,
           floor(CAST(SUM(bin_tokens) AS DOUBLE) / count(*) / 4096.0 * 1e6 + 0.5)
               / 1e6 AS mean_bin_fill,
           CAST(SUM(bin_stripped) AS BIGINT) AS stripped_tokens
    FROM bins GROUP BY split
)
SELECT COALESCE(m.split, h.split) AS split,
       CAST(COALESCE(m.n_docs, 0) AS BIGINT) AS n_docs,
       CAST(COALESCE(m.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(m.n_bins, 0) AS BIGINT) AS n_bins,
       COALESCE(m.mean_bin_fill, 0.0) AS mean_bin_fill,
       CAST(COALESCE(m.stripped_tokens, 0) AS BIGINT) AS stripped_tokens,
       CAST(COALESCE(h.n_dropped_boilerplate, 0) AS BIGINT)
           AS n_dropped_boilerplate
FROM manifest m FULL OUTER JOIN huskrel h ON m.split = h.split
"""

QUERIES["corpus_release_pipeline"] = corpus_release_pipeline
ORACLES["corpus_release_pipeline"] = _RELEASE_SQL


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID quality: confusion matrix of the marker-n-gram
    classifier's prediction against the labeled lang column, plus per-cell
    share of the true class — the text-side counterpart of
    centroid_classifier_eval. One scan, |langs|² rollup."""
    docs = ensure_compute_partitions(
        load_table(spark, sf_dir, "documents", ["doc_id", "text", "lang"]),
        "doc_id",
    )
    pred = docs.select("lang", tx.lang_id("text").alias("pred"))
    cells = pred.groupBy("lang", "pred").agg(F.count(F.lit(1)).alias("n")).persist()
    totals = cells.groupBy("lang").agg(F.sum("n").alias("n_true"))
    return cells.join(F.broadcast(totals), "lang").select(
        "lang",
        "pred",
        F.col("n").cast("bigint").alias("n"),
        dround(F.col("n").cast("double") / F.col("n_true").cast("double"), 6)
        .alias("share_of_true"),
    )

_LANG_CONF_SQL = _TOKS_CTE + """
, scored AS (
    SELECT doc_id, lang,
           [
             {'score': len(list_filter(t, x -> list_contains(['the','a','of','and','to'], x))), 'lang': 'en'},
             {'score': len(list_filter(t, x -> list_contains(['el','la','de','los','y'], x))), 'lang': 'es'},
             {'score': len(list_filter(t, x -> list_contains(['le','la','les','des','et'], x))), 'lang': 'fr'},
             {'score': len(list_filter(t, x -> list_contains(['der','die','das','und','ein'], x))), 'lang': 'de'}
           ] AS pairs
    FROM toks
), best AS (
    SELECT doc_id, lang,
           list_aggregate(list_sort(pairs), 'max') AS b
    FROM scored
), cells AS (
    SELECT lang,
           CASE WHEN b['score'] > 0 THEN b['lang'] ELSE 'und' END AS pred,
           CAST(count(*) AS BIGINT) AS n
    FROM best GROUP BY 1, 2
), totals AS (SELECT lang, SUM(n) AS n_true FROM cells GROUP BY lang)
SELECT c.lang, c.pred, c.n,
       floor(CAST(c.n AS DOUBLE) / CAST(t.n_true AS DOUBLE) * 1e6 + 0.5) / 1e6
           AS share_of_true
FROM cells c JOIN totals t USING (lang)
"""

QUERIES["lang_id_confusion"] = lang_id_confusion
ORACLES["lang_id_confusion"] = _LANG_CONF_SQL

def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row DATASET CARD for the corpus: size (docs, tokens, chars),
    diversity (languages, sources), redundancy (exact-duplicate rate), and
    central quality — the release-notes manifest that fronts a training
    dataset. One tokenize pass feeds every stat; the dup rate rides a
    content-hash window on the same scan."""
    docs = ensure_compute_partitions(
        load_table(
            spark, sf_dir, "documents", ["doc_id", "text", "lang", "source", "n_chars"]
        ),
        "doc_id",
    )
    t = F.col("__toks")
    w = Window.partitionBy("__h")
    staged = (
        docs.withColumn("__toks", tx.tokens("text"))
        .withColumn("__h", F.md5("text"))
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            tx.token_count_of(t).alias("n_tokens"),
            tx.quality_score_of(t).alias("q"),
            (F.min("doc_id").over(w) != F.col("doc_id")).cast("int").alias("dup"),
        )
    )
    return staged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        dround(
            F.sum("dup").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("exact_dup_rate"),
        dround(
            F.sum(F.col("q").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_quality"),
    )


_DATACARD_SQL = _TOKS_CTE + """
, staged AS (
    SELECT d.doc_id, d.lang, d.source, d.n_chars,
           len(t) AS n_tokens,
           round(0.4 * least(len(t) / 64.0, 1.0)
               + 0.4 * coalesce(len(list_distinct(t)) * 1.0 / nullif(len(t), 0), 0.0)
               + 0.2 * least(coalesce(len(list_filter(t, x -> list_contains(
                     ['the','a','an','of','and','to','in','is','it','for'], x)))
                     * 1.0 / nullif(len(t), 0), 0.0) * 4.0, 1.0), 6) AS q,
           CASE WHEN MIN(d.doc_id) OVER (PARTITION BY md5(d.text)) != d.doc_id
                THEN 1 ELSE 0 END AS dup
    FROM toks JOIN documents d USING (doc_id)
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       floor(CAST(SUM(dup) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
           AS exact_dup_rate,
       floor(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*)
             * 1e6 + 0.5) / 1e6 AS mean_quality
FROM staged
"""

QUERIES["corpus_datacard"] = corpus_datacard
ORACLES["corpus_datacard"] = _DATACARD_SQL


def quality_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation feature frame — the wide table a quality
    classifier trains on, assembling the stack's per-doc signals in one
    pass over the corpus: token/diversity/stopword stats, the C4-style
    quality blend, detected language, raw PII hit count, and exact-dup
    group size. Everything is JVM codegen except nothing: two scans of
    the persisted 4-column projection (feature projection + md5 group
    sizes), one high-cardinality join on the content hash.
    """
    from platform_etl_drug_disease_spark.operators.pii import pii_counts

    docs = ensure_compute_partitions(
        load_table(spark, sf_dir, "documents", ["doc_id", "source", "lang", "text"]),
        "doc_id",
    ).persist()
    t = F.col("__toks")
    pii = pii_counts(F.col("text"))
    n_pii = None
    for c in pii.values():
        n_pii = c if n_pii is None else n_pii + c
    feats = docs.withColumn("__toks", tx.tokens("text")).select(
        "doc_id",
        "source",
        F.col("lang").alias("labeled_lang"),
        tx.lang_id_of(t).alias("detected_lang"),
        tx.token_count_of(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct_tokens"),
        F.round(tx.stopword_ratio_of(t), 6).alias("stopword_ratio"),
        tx.quality_score_of(t).alias("quality"),
        n_pii.cast("int").alias("n_pii"),
        F.md5("text").alias("__h"),
    )
    sizes = docs.groupBy(F.md5("text").alias("__h")).agg(
        F.count(F.lit(1)).alias("dup_group_size")
    )
    return feats.join(sizes, "__h").drop("__h")


_FEATURE_MATRIX_SQL = _TOKS_CTE + r"""
, scored AS (
    SELECT doc_id,
           [
             {'score': len(list_filter(t, x -> list_contains(['the','a','of','and','to'], x))), 'lang': 'en'},
             {'score': len(list_filter(t, x -> list_contains(['el','la','de','los','y'], x))), 'lang': 'es'},
             {'score': len(list_filter(t, x -> list_contains(['le','la','les','des','et'], x))), 'lang': 'fr'},
             {'score': len(list_filter(t, x -> list_contains(['der','die','das','und','ein'], x))), 'lang': 'de'}
           ] AS pairs
    FROM toks
), sizes AS (
    SELECT md5(text) AS h, COUNT(*) AS dup_group_size FROM documents GROUP BY 1
)
SELECT k.doc_id, k.source, k.lang AS labeled_lang,
       CASE WHEN list_aggregate(list_sort(s.pairs), 'max')['score'] > 0
            THEN list_aggregate(list_sort(s.pairs), 'max')['lang']
            ELSE 'und' END AS detected_lang,
       CAST(len(k.t) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct(k.t)) AS INTEGER) AS n_distinct_tokens,
       round(len(list_filter(k.t, x -> list_contains(
             ['the','a','an','of','and','to','in','is','it','for'], x)))
             * 1.0 / nullif(len(k.t), 0), 6) AS stopword_ratio,
       round(0.4 * least(len(k.t) / 64.0, 1.0)
           + 0.4 * coalesce(len(list_distinct(k.t)) * 1.0 / nullif(len(k.t), 0), 0.0)
           + 0.2 * least(coalesce(len(list_filter(k.t, x -> list_contains(
                 ['the','a','an','of','and','to','in','is','it','for'], x)))
                 * 1.0 / nullif(len(k.t), 0), 0.0) * 4.0, 1.0), 6) AS quality,
       CAST(len(regexp_extract_all(d.text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,4}'))
          + len(regexp_extract_all(d.text, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))
          + len(regexp_extract_all(d.text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))
          AS INTEGER) AS n_pii,
       z.dup_group_size
FROM toks k
JOIN scored s USING (doc_id)
JOIN documents d USING (doc_id)
JOIN sizes z ON md5(d.text) = z.h
"""

QUERIES["quality_feature_matrix"] = quality_feature_matrix
ORACLES["quality_feature_matrix"] = _FEATURE_MATRIX_SQL


# ---------------------------------------------------------------------------
# curation funnel: per-rule attrition waterfall
# ---------------------------------------------------------------------------


def curation_funnel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule attrition waterfall of a sequential curation pipeline — the
    bookkeeping view every production cleaning stage ships with: for each
    rule IN ORDER, how many docs entered, were dropped, and survived.

    Rules (applied sequentially; a doc must pass all earlier rules to be
    counted at a later one): (1) ≥20 tokens, (2) lang = 'en',
    (3) stopword ratio ≥ 0.05 (gibberish guard), (4) most-repeated-trigram
    fraction ≤ 0.25 (Gopher-style repetition), (5) exact-dup keeper —
    min doc_id per md5(text) AMONG RULE-1..4 SURVIVORS, since dedup runs
    over the docs that reach it (a doc whose earlier-dropped twin was the
    corpus-wide min has no surviving duplicate and is kept).

    Scale shape: ONE corpus pass computes every per-doc flag (token stats
    are column arithmetic; repetition is a (doc, gram) count aggregate; the
    keeper flag is one hash-partitioned window); the waterfall itself is a
    single global aggregate row stacked into 5 rows — counts only, no doc
    data ever re-scanned per rule. Output is 5 rows of exact integers, the
    easiest hash-stable shape there is."""
    docs = ensure_compute_partitions(
        load_table(spark, sf_dir, "documents", ["doc_id", "text", "lang"]),
        "doc_id",
    )
    toks = docs.withColumn("__t", tx.tokens("text"))
    grams = toks.select(
        "doc_id",
        F.explode_outer(tx.raw_shingles_from_tokens("__t", 3)).alias("g"),
    ).where(F.col("g").isNotNull())
    rep = (
        grams.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("doc_id")
        .agg(
            (F.max("__c").cast("double") / F.sum("__c").cast("double")).alias(
                "rep_frac"
            )
        )
    )
    base = toks.select(
        "doc_id",
        "lang",
        F.md5("text").alias("__h"),
        F.size("__t").alias("n_tokens"),
        tx.stopword_ratio_of("__t").alias("sw"),
    )
    flags = base.join(rep, "doc_id", "left").na.fill(
        {"rep_frac": 0.0}  # <3-token docs have no trigrams: pass
    )
    s1 = F.col("n_tokens") >= 20
    s2 = s1 & (F.col("lang") == "en")
    s3 = s2 & (F.col("sw") >= 0.05)
    s4 = s3 & (F.col("rep_frac") <= 0.25)
    # SEQUENTIAL semantics: dedup runs over the docs
    # that REACHED it — the keeper is the min doc_id among rule-1..4
    # survivors of the hash group, not of the full corpus. A doc whose
    # earlier-dropped twin was the corpus-wide min must NOT be discarded
    # here (no surviving duplicate exists).
    w = Window.partitionBy("__h")
    flags = flags.withColumn(
        "keeper",
        F.min(F.when(s4, F.col("doc_id"))).over(w) == F.col("doc_id"),
    )
    s5 = s4 & F.col("keeper")
    one = flags.agg(
        F.count(F.lit(1)).alias("a0"),
        *[
            F.sum(F.when(s, 1).otherwise(0)).alias(f"a{i}")
            for i, s in enumerate((s1, s2, s3, s4, s5), start=1)
        ],
    )
    rules = ["min_tokens", "lang_en", "stopword_floor", "repetition", "exact_dedup"]
    stack_args = ", ".join(
        f"{i + 1}, '{r}', a{i}, a{i} - a{i + 1}, a{i + 1}"
        for i, r in enumerate(rules)
    )
    return one.selectExpr(
        f"stack(5, {stack_args}) AS (step, rule, n_in, n_dropped, n_out)"
    ).select(
        F.col("step").cast("int").alias("step"),
        "rule",
        F.col("n_in").cast("bigint").alias("n_in"),
        F.col("n_dropped").cast("bigint").alias("n_dropped"),
        F.col("n_out").cast("bigint").alias("n_out"),
    )


_FUNNEL_SQL = _TOKS_CTE + """
, rep AS (
    SELECT doc_id,
           MAX(c) * 1.0 / SUM(c) AS rep_frac
    FROM (
        SELECT doc_id, g, COUNT(*) AS c
        FROM (
            SELECT doc_id,
                   unnest(CASE WHEN len(t) >= 3
                          THEN list_transform(range(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                          ELSE CAST([] AS VARCHAR[]) END) AS g
            FROM toks
        ) GROUP BY doc_id, g
    ) GROUP BY doc_id
),
base AS (
    SELECT d.doc_id, d.lang, md5(d.text) AS h, len(t) AS n_tokens,
           coalesce(len(list_filter(t, x -> list_contains(
               ['the','a','an','of','and','to','in','is','it','for'], x)))
               * 1.0 / nullif(len(t), 0), NULL) AS sw,
           coalesce(rep.rep_frac, 0.0) AS rep_frac
    FROM toks JOIN documents d USING (doc_id)
    LEFT JOIN rep USING (doc_id)
),
flags AS (
    SELECT *,
           MIN(CASE WHEN n_tokens >= 20 AND lang = 'en' AND sw >= 0.05
                    AND rep_frac <= 0.25 THEN doc_id END)
               OVER (PARTITION BY h) = doc_id AS keeper
    FROM base
),
agg AS (
    SELECT COUNT(*) AS a0,
           SUM(CASE WHEN n_tokens >= 20 THEN 1 ELSE 0 END) AS a1,
           SUM(CASE WHEN n_tokens >= 20 AND lang = 'en' THEN 1 ELSE 0 END) AS a2,
           SUM(CASE WHEN n_tokens >= 20 AND lang = 'en' AND sw >= 0.05
                    THEN 1 ELSE 0 END) AS a3,
           SUM(CASE WHEN n_tokens >= 20 AND lang = 'en' AND sw >= 0.05
                    AND rep_frac <= 0.25 THEN 1 ELSE 0 END) AS a4,
           SUM(CASE WHEN n_tokens >= 20 AND lang = 'en' AND sw >= 0.05
                    AND rep_frac <= 0.25 AND keeper THEN 1 ELSE 0 END) AS a5
    FROM flags
)
SELECT * FROM (
    SELECT 1 AS step, 'min_tokens' AS rule,
           CAST(a0 AS BIGINT) AS n_in, CAST(a0 - a1 AS BIGINT) AS n_dropped,
           CAST(a1 AS BIGINT) AS n_out FROM agg
    UNION ALL
    SELECT 2, 'lang_en', CAST(a1 AS BIGINT), CAST(a1 - a2 AS BIGINT),
           CAST(a2 AS BIGINT) FROM agg
    UNION ALL
    SELECT 3, 'stopword_floor', CAST(a2 AS BIGINT), CAST(a2 - a3 AS BIGINT),
           CAST(a3 AS BIGINT) FROM agg
    UNION ALL
    SELECT 4, 'repetition', CAST(a3 AS BIGINT), CAST(a3 - a4 AS BIGINT),
           CAST(a4 AS BIGINT) FROM agg
    UNION ALL
    SELECT 5, 'exact_dedup', CAST(a4 AS BIGINT), CAST(a4 - a5 AS BIGINT),
           CAST(a5 AS BIGINT) FROM agg
)
"""

QUERIES["curation_funnel_stats"] = curation_funnel_stats
ORACLES["curation_funnel_stats"] = _FUNNEL_SQL


def dedup_quality_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster representative selection: near-dup clusters
    (MinHash+LSH pairs → connected components) keep the HIGHEST-QUALITY
    member instead of the arbitrary min-id — what a real curation stage
    does, since near-dups often differ in boilerplate/truncation and the
    keeper choice decides what the model trains on. Ties break on doc_id.

    Per cluster: cluster id (min member), chosen keeper + its quality, the
    min-id default's quality (what naive dedup would have kept), member
    count, and tokens dropped with the non-keepers. Scale shape: pairs and
    components are the proven dedup machinery; quality is column
    arithmetic; the keeper pick is one row_number window partitioned by
    component over the (small) cluster-member table — never over the
    corpus."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    comp = _lsh_components(spark, sf_dir)
    t = F.col("__t")
    q = docs.withColumn("__t", tx.tokens("text")).select(
        F.col("doc_id").alias("node"),
        tx.quality_score_of(t).alias("q"),
        tx.token_count_of(t).cast("bigint").alias("n_tokens"),
    )
    m = comp.join(q, "node")
    w = Window.partitionBy("component").orderBy(F.col("q").desc(), F.col("node"))
    rk = F.col("__rk")
    return (
        m.withColumn("__rk", F.row_number().over(w))
        .groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max(F.when(rk == 1, F.col("node"))).alias("keeper_id"),
            F.max(F.when(rk == 1, F.col("q"))).alias("keeper_quality"),
            F.max(F.when(F.col("node") == F.col("component"), F.col("q"))).alias(
                "min_id_quality"
            ),
            F.sum(F.when(rk > 1, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("tokens_dropped"),
        )
    )


# components via the same recursive-closure CTE as _CC_SQL, then quality
# (the _FEATURE_MATRIX_SQL formula) and an argmax by (q DESC, node) per cluster.
_QUALITY_KEEPER_SQL = (
    _SHINGLES_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + _MINHASH_PAIRS_CORE
    + r"""
, pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
edges AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION
    SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
    SELECT a AS node, LEAST(a, MIN(b)) AS component
    FROM reach GROUP BY a
),
qual AS (
    SELECT doc_id AS node,
           round(0.4 * least(len(t) / 64.0, 1.0)
               + 0.4 * coalesce(len(list_distinct(t)) * 1.0 / nullif(len(t), 0), 0.0)
               + 0.2 * least(coalesce(len(list_filter(t, x -> list_contains(
                     ['the','a','an','of','and','to','in','is','it','for'], x)))
                     * 1.0 / nullif(len(t), 0), 0.0) * 4.0, 1.0), 6) AS q,
           CAST(len(t) AS BIGINT) AS n_tokens
    FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
          FROM documents)
),
ranked AS (
    SELECT c.component, c.node, qual.q, qual.n_tokens,
           row_number() OVER (PARTITION BY c.component
                              ORDER BY qual.q DESC, c.node) AS rk
    FROM comp c JOIN qual ON c.node = qual.node
)
SELECT component AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MAX(CASE WHEN rk = 1 THEN node END) AS keeper_id,
       MAX(CASE WHEN rk = 1 THEN q END) AS keeper_quality,
       MAX(CASE WHEN node = component THEN q END) AS min_id_quality,
       CAST(SUM(CASE WHEN rk > 1 THEN n_tokens ELSE 0 END) AS BIGINT)
           AS tokens_dropped
FROM ranked GROUP BY component
"""
)

QUERIES["dedup_quality_keeper"] = dedup_quality_keeper
ORACLES["dedup_quality_keeper"] = _QUALITY_KEEPER_SQL
