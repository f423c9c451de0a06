"""Corpus language-model quality scoring + vocabulary analytics.

Training-data pipelines score documents against a corpus-level language
model (perplexity filtering, CCNet-style) and build vocabulary statistics
(Zipf audit, tokenizer design). Both are pure word-count-shaped Spark jobs:

- ``quality_lm_score``: train a unigram LM over the whole corpus (token →
  relative frequency), then score every document by its cross-entropy under
  that model. Two shuffle rounds — (doc, token) partial counts map-side
  combine, then a token-keyed join back — the canonical wordcount shape that
  scales linearly to 100 TB. No driver-side vocab, no broadcast of the LM
  (vocab is unbounded at corpus scale; the join build side is one row per
  token, so shuffled-hash/sort-merge with AQE skew splitting handles hot
  stopword keys).
- ``vocab_zipf_stats``: global top-k vocabulary by frequency with document
  frequency. Top-k via orderBy().limit(k) (TakeOrdered — no global sort
  materialization); the rank window runs on the k surviving rows only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.operators import text as tx
from platform_etl_drug_disease_spark.plans._util import dround
from platform_etl_drug_disease_spark.schemas import (
    ensure_compute_partitions,
    load_table,
)

_TOKS_CTE = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
    FROM documents
),
u AS (SELECT doc_id, unnest(t) AS tok FROM toks)
"""


def _doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tok, c): per-document token counts. Aggregating BEFORE the
    LM join shrinks the probe side from total tokens to distinct (doc, tok)
    pairs and lets the groupBy partial-aggregate map-side."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return (
        docs.select("doc_id", F.explode_outer(tx.tokens("text")).alias("tok"))
        .where(F.col("tok").isNotNull())
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )


def quality_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus unigram LM.

    xent = -Σ_tok c(doc,tok)·ln p(tok) / Σ_tok c(doc,tok), where
    p(tok) = corpus_count(tok) / corpus_total. No smoothing needed: every
    scored token is in the model by construction (the model IS the corpus).
    High xent → rare-token-heavy documents (gibberish, boilerplate IDs);
    low xent → stopword soup. Both tails are what perplexity filters cut.
    """
    dt = _doc_token_counts(spark, sf_dir)
    tf = dt.groupBy("tok").agg(F.sum("c").alias("tc"))
    total = tf.agg(F.sum("tc").alias("n"))
    # one-row total: broadcast cross join, never a single-partition window.
    lm = tf.crossJoin(F.broadcast(total))
    return (
        dt.join(lm, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.round(
                -F.sum(F.col("c") * F.log(F.col("tc") / F.col("n")))
                / F.sum("c"),
                6,
            ).alias("xent"),
        )
    )


_QUALITY_LM_SQL = _TOKS_CTE + """
, dt AS (SELECT doc_id, tok, count(*) AS c FROM u GROUP BY doc_id, tok),
tf AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS tc FROM dt GROUP BY tok),
tot AS (SELECT CAST(SUM(tc) AS BIGINT) AS n FROM tf)
SELECT dt.doc_id,
       CAST(SUM(dt.c) AS BIGINT) AS n_tokens,
       round(-SUM(dt.c * ln(tf.tc * 1.0 / tot.n)) / SUM(dt.c), 6) AS xent
FROM dt JOIN tf USING (tok) CROSS JOIN tot
GROUP BY dt.doc_id
"""


def vocab_zipf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 vocabulary: rank, token, corpus count, document frequency.

    Ties broken by token text so the rank is deterministic. count_distinct
    on doc_id is exact here (vocab audit wants exact df); the approximate
    variant for wide-vocab monitoring is approx_count_distinct (A2,
    exercised by ``adjacency_degree_approx``)."""
    dt = _doc_token_counts(spark, sf_dir)
    tf = dt.groupBy("tok").agg(
        F.sum("c").cast("long").alias("count"),
        F.count("*").cast("long").alias("doc_freq"),
    )
    top = tf.orderBy(F.col("count").desc(), "tok").limit(50)
    w = Window.orderBy(F.col("count").desc(), "tok")
    return top.select(
        F.row_number().over(w).alias("rank"), "tok", "count", "doc_freq"
    )


_VOCAB_SQL = _TOKS_CTE + """
, dt AS (SELECT doc_id, tok, count(*) AS c FROM u GROUP BY doc_id, tok),
tf AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS count,
              CAST(COUNT(*) AS BIGINT) AS doc_freq
       FROM dt GROUP BY tok)
SELECT CAST(row_number() OVER (ORDER BY count DESC, tok) AS INTEGER) AS rank,
       tok, count, doc_freq
FROM tf
ORDER BY count DESC, tok
LIMIT 50
"""


def heavy_shingle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent trigram phrases (count ≥ mean frequency + 3) via the
    count-min-sketch prune + exact verify (operators/sketches.py) — the
    boilerplate-phrase radar that at 100-TB shingle cardinality cannot be a
    wholesale ``groupBy(shingle)``. The answer is exact (the sketch only
    prunes), so the oracle is the plain GROUP BY ... HAVING form.

    Threshold calibration uses an exact distinct count here so the oracle
    can mirror it bit-for-bit; at corpus scale the calibration pass swaps in
    ``approx_count_distinct`` (A2) — the threshold is a dial, not a result.
    """
    from platform_etl_drug_disease_spark.operators.sketches import (
        cms_heavy_hitters,
    )

    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    occ = (
        docs.withColumn("__toks", tx.tokens("text"))
        .select(
            F.explode_outer(tx.raw_shingles_from_tokens("__toks")).alias("sh")
        )
        .where(F.col("sh").isNotNull())
        .localCheckpoint()
    )
    thr = occ.agg(
        (F.floor(F.count(F.lit(1)) / F.countDistinct("sh")) + F.lit(3))
        .cast("bigint")
        .alias("thr")
    )
    return cms_heavy_hitters(occ, "sh", thr).withColumnRenamed("sh", "shingle")


_HEAVY_SQL = _TOKS_CTE + """
, g AS (
    SELECT unnest(CASE WHEN len(t) >= 3
                       THEN list_transform(range(1, len(t) - 1),
                                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                       ELSE CAST([] AS VARCHAR[]) END) AS sh
    FROM toks
),
tot AS (SELECT CAST(count(*) // count(DISTINCT sh) + 3 AS BIGINT) AS thr FROM g)
SELECT sh AS shingle, CAST(count(*) AS BIGINT) AS n_occurrences
FROM g CROSS JOIN tot
GROUP BY sh, thr
HAVING count(*) >= thr
"""


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 positively-associated bigrams by pointwise mutual information
    — the word2phrase-style collocation pass a tokenizer-design pipeline
    runs to decide which token pairs deserve a merged vocabulary entry.

    PMI = ln(p(ab) / (p(a)·p(b))), support-filtered (n_pairs ≥ 5, positive
    association only). Wordcount-shaped: unigram and bigram counts are two
    map-side-combining aggregations; the probability join is keyed by token
    (one row per distinct token/bigram — never per occurrence), so 100-TB
    cost is two corpus passes plus vocabulary-sized joins. Tie-break on
    (a, b) text after floor-rounded PMI keeps the cut deterministic."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    toks = docs.withColumn("__toks", tx.tokens("text"))
    # uni fans out three ways (total, a-side, b-side) — checkpoint the
    # vocabulary-sized count table so the corpus tokenization runs once.
    uni = (
        toks.select(F.explode_outer("__toks").alias("tok"))
        .where(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    tot_u = uni.agg(F.sum("c").cast("bigint").alias("t"))
    bigc = (
        toks.select(
            F.explode_outer(tx.raw_shingles_from_tokens("__toks", 2)).alias("g")
        )
        .where(F.col("g").isNotNull())
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .localCheckpoint()
    )
    tot_b = bigc.agg(F.sum("c_ab").cast("bigint").alias("bt"))
    cand = (
        bigc.where(F.col("c_ab") >= 5)
        .withColumn("a", F.substring_index("g", " ", 1))
        .withColumn("b", F.substring_index("g", " ", -1))
    )
    ua = uni.select(F.col("tok").alias("a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("b"), F.col("c").alias("c_b"))
    j = (
        cand.join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(tot_u))
        .crossJoin(F.broadcast(tot_b))
    )
    praw = F.log(
        (F.col("c_ab") * F.lit(1.0) / F.col("bt"))
        / (
            (F.col("c_a") * F.lit(1.0) / F.col("t"))
            * (F.col("c_b") * F.lit(1.0) / F.col("t"))
        )
    )
    scored = (
        j.select("a", "b", F.col("c_ab").alias("n_pairs"), praw.alias("praw"))
        .where(F.col("praw") > 0)
        .select("a", "b", "n_pairs", dround("praw", 6).alias("pmi"))
    )
    top = scored.orderBy(F.col("pmi").desc(), "a", "b").limit(20)
    w = Window.orderBy(F.col("pmi").desc(), "a", "b")
    return top.select(F.row_number().over(w).alias("rk"), "a", "b", "n_pairs", "pmi")


_PMI_SQL = _TOKS_CTE + """
, uni AS (SELECT tok, count(*) AS c FROM u GROUP BY tok),
tu AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM uni),
bg AS (
    SELECT unnest(CASE WHEN len(t) >= 2
                       THEN list_transform(range(1, len(t)),
                                i -> t[i] || ' ' || t[i+1])
                       ELSE CAST([] AS VARCHAR[]) END) AS g
    FROM toks
),
bigc AS (SELECT g, count(*) AS c_ab FROM bg GROUP BY g),
tb AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS bt FROM bigc),
scored AS (
    SELECT split_part(g, ' ', 1) AS a, split_part(g, ' ', 2) AS b,
           c_ab AS n_pairs,
           ln((c_ab * 1.0 / bt) /
              ((ua.c * 1.0 / t) * (ub.c * 1.0 / t))) AS praw
    FROM bigc CROSS JOIN tu CROSS JOIN tb
    JOIN uni ua ON ua.tok = split_part(g, ' ', 1)
    JOIN uni ub ON ub.tok = split_part(g, ' ', 2)
    WHERE c_ab >= 5
)
SELECT CAST(row_number() OVER (ORDER BY pmi DESC, a, b) AS INTEGER) AS rk,
       a, b, n_pairs, pmi
FROM (
    SELECT a, b, n_pairs, floor(praw * 1e6 + 0.5) / 1e6 AS pmi
    FROM scored WHERE praw > 0
)
ORDER BY pmi DESC, a, b
LIMIT 20
"""


# ---------------------------------------------------------------------------
# count-min frequency sketch — the frequency member of the sketch family
# (HLL = distinct, t-digest = quantiles, Bloom = membership, MinHash =
# similarity). Unlike those, an md5-hashed CMS is FULLY deterministic on both
# engines, so the entire sketch — counters, estimates, overcounts — is
# value-hash-checked end to end; no audit twin needed.
# ---------------------------------------------------------------------------

CMS_W = 1024  # buckets per row: counter table is D×W rows, FIXED memory
CMS_D = 4     # independent hash rows: est = min over rows


def _cms_bucket(d: int, col) -> F.Column:
    """Row-``d`` bucket of a token: ONE md5 digest per token, the 4 hash
    rows taken from its disjoint 8-hex-char (32-bit) slices — the repo's
    cross-engine hash family, at a quarter of the hashing cost of 4
    independent salted digests (measured: the salted form made md5 the
    query's hot path at sf≈1). Non-negative, so Spark pmod and DuckDB
    ``%`` agree."""
    h = F.conv(
        F.substring(F.md5(col), 1 + 8 * d, 8), 16, 10
    ).cast("bigint")
    return F.pmod(h, F.lit(CMS_W))


def cms_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream, audited against exact
    counts for the top-20 tokens: per probe token — exact count, CMS
    estimate (min over CMS_D md5-hashed counter rows), the overcount
    (collision mass, ≥ 0 by construction), and the ``never_undercount``
    guarantee boolean.

    Why it's in the catalog: CMS is the 100-TB frequency primitive — the
    counter table is CMS_D×CMS_W rows of map-side-combinable integer sums
    (FIXED memory no matter the corpus; mergeable across shards/streams by
    plain addition), where the exact per-token count table grows with the
    vocabulary. The probabilistic ε·N error bound is deliberately NOT
    asserted (for fixed hashes it only holds in expectation; asserting it
    would make the oracle flaky at some scale) — the deterministic
    one-sided guarantee is, and the measured overcount is a hash-checked
    VALUE, so any hash/bucketing drift fails the driver gate.

    Plan shape: ONE token scan → the map-side-combinable exact count table
    (vocab-sized, consumed by the top-20 TakeOrderedAndProject AND the
    sketch build); the counters are the SAME multiset sum built
    from (token, count) rows — ``counter(d,b) = Σ count over tokens
    hashing to b`` — so md5 runs once per DISTINCT token instead of once
    per occurrence (measured 10.3 s → sub-second at sf≈1: occurrence-level
    hashing made md5 the hot path on a ~15M-token corpus; vocabulary is
    Heaps-sublinear, which is the same cost argument as the BPE apply).
    The 80-row probe set broadcasts into the counter join; the 4-way
    explode rides the house explode_outer+isNotNull form (the
    InferFiltersFromGenerate guard)."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    occ = (
        docs.select(F.explode_outer(tx.tokens("text")).alias("tok"))
        .where(F.col("tok").isNotNull() & (F.col("tok") != ""))
    )
    exact = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = exact.orderBy(F.col("exact_cnt").desc(), "tok").limit(20)

    def cms_rows(src: DataFrame, *keep: str) -> DataFrame:
        arr = F.array(
            *[
                F.struct(
                    F.lit(d).alias("d"), _cms_bucket(d, F.col("tok")).alias("bucket")
                )
                for d in range(CMS_D)
            ]
        )
        return (
            src.select(*keep, F.explode_outer(arr).alias("e"))
            .where(F.col("e").isNotNull())
            .select(*keep, "e.d", "e.bucket")
        )

    counters = cms_rows(exact, "exact_cnt").groupBy("d", "bucket").agg(
        F.sum("exact_cnt").alias("cnt")
    )
    probes = cms_rows(top, "tok", "exact_cnt")
    est = (
        counters.join(F.broadcast(probes), ["d", "bucket"])
        .groupBy("tok")
        .agg(
            F.max("exact_cnt").cast("bigint").alias("exact_cnt"),
            F.min("cnt").cast("bigint").alias("cms_est"),
        )
    )
    return est.select(
        "tok",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).cast("bigint").alias("overcount"),
        (F.col("cms_est") >= F.col("exact_cnt")).alias("never_undercount"),
    )


_CMS_SQL = rf"""
WITH occ AS (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
    FROM documents
), f AS (
    SELECT tok FROM occ WHERE tok IS NOT NULL AND tok != ''
), exact AS (
    SELECT tok, COUNT(*) AS exact_cnt FROM f GROUP BY tok
), top AS (
    SELECT tok, exact_cnt FROM exact ORDER BY exact_cnt DESC, tok LIMIT 20
), rows_d AS (
    SELECT d FROM (VALUES (0), (1), (2), (3)) v(d)
), counters AS (
    SELECT r.d,
           ('0x' || substr(md5(e.tok), 1 + 8 * r.d, 8))::BIGINT
               % {CMS_W} AS bucket,
           SUM(e.exact_cnt) AS cnt
    FROM exact e, rows_d r GROUP BY 1, 2
), probes AS (
    SELECT t.tok, t.exact_cnt, r.d,
           ('0x' || substr(md5(t.tok), 1 + 8 * r.d, 8))::BIGINT
               % {CMS_W} AS bucket
    FROM top t, rows_d r
)
SELECT p.tok,
       CAST(p.exact_cnt AS BIGINT) AS exact_cnt,
       CAST(MIN(c.cnt) AS BIGINT) AS cms_est,
       CAST(MIN(c.cnt) - p.exact_cnt AS BIGINT) AS overcount,
       (MIN(c.cnt) >= p.exact_cnt) AS never_undercount
FROM probes p JOIN counters c ON p.d = c.d AND p.bucket = c.bucket
GROUP BY p.tok, p.exact_cnt
"""


QUERIES = {
    "quality_lm_score": quality_lm_score,
    "vocab_zipf_stats": vocab_zipf_stats,
    "heavy_shingle_stats": heavy_shingle_stats,
    "pmi_collocations": pmi_collocations,
    "cms_token_frequency": cms_token_frequency,
}

ORACLES = {
    "quality_lm_score": _QUALITY_LM_SQL,
    "vocab_zipf_stats": _VOCAB_SQL,
    "heavy_shingle_stats": _HEAVY_SQL,
    "pmi_collocations": _PMI_SQL,
    "cms_token_frequency": _CMS_SQL,
}


# ---------------------------------------------------------------------------
# language-mix divergence: per-source KL vs the corpus language distribution
# ---------------------------------------------------------------------------


def lang_mix_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mix audit: Shannon entropy of each source's
    language distribution and KL(source ‖ corpus) — the drift score
    curation uses to flag sources whose language mix departs from the
    corpus target (a spike here is how a crawl that silently switched
    language shows up before it poisons the mix).

    Scale shape: one (source, lang) count aggregation over the corpus —
    map-side combinable, state = |sources|×|langs| — then every ratio and
    log runs on that tiny post-agg table (windows over it are per-source,
    never corpus-wide). KL terms with p_source = 0 contribute 0 (the sum
    skips absent langs); the corpus marginal is never 0 for a lang a source
    actually has, so the divergence is always finite.
    """
    docs = load_table(spark, sf_dir, "documents", ["lang", "source"])
    sl = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    ws = Window.partitionBy("source")
    wl = Window.partitionBy("lang")
    enriched = (
        sl.withColumn("n_s", F.sum("c").over(ws))
        .withColumn("c_l", F.sum("c").over(wl))
        .withColumn("n", F.sum("c").over(Window.partitionBy()))
    )
    p_s = F.col("c") / F.col("n_s").cast("double")
    p_g = F.col("c_l") / F.col("n").cast("double")
    return (
        enriched.groupBy("source")
        .agg(
            F.max("n_s").cast("bigint").alias("n_docs"),
            F.round(-F.sum(p_s * F.log(p_s)), 6).alias("lang_entropy"),
            F.round(F.sum(p_s * F.log(p_s / p_g)), 6).alias("kl_vs_corpus"),
        )
    )


_LANG_MIX_SQL = """
WITH sl AS (
    SELECT source, lang, CAST(count(*) AS BIGINT) AS c
    FROM documents GROUP BY 1, 2
), e AS (
    SELECT source, lang, c,
           SUM(c) OVER (PARTITION BY source) AS n_s,
           SUM(c) OVER (PARTITION BY lang) AS c_l,
           SUM(c) OVER () AS n
    FROM sl
)
SELECT source,
       CAST(MAX(n_s) AS BIGINT) AS n_docs,
       round(-SUM((c / CAST(n_s AS DOUBLE)) * ln(c / CAST(n_s AS DOUBLE))), 6)
           AS lang_entropy,
       round(SUM((c / CAST(n_s AS DOUBLE))
                 * ln((c / CAST(n_s AS DOUBLE)) / (c_l / CAST(n AS DOUBLE)))), 6)
           AS kl_vs_corpus
FROM e GROUP BY source
"""


QUERIES["lang_mix_divergence"] = lang_mix_divergence
ORACLES["lang_mix_divergence"] = _LANG_MIX_SQL


def quality_winsor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source winsorized quality statistics: clip each document's
    quality score at the source's 5th/95th percentile, then compare the raw
    and winsorized means — the robust-mean step curation applies before
    thresholding on a per-source quality signal (a handful of spam or
    truncated docs should not move a source's score budget).

    Scale shape (the plan_lint low-cardinality-window rule flags a
    per-source percent_rank over raw docs): exact
    percentile bounds come from the per-(source, q) value histogram — one
    aggregate over the corpus, then rank arithmetic on the (bounded,
    score-resolution-sized) histogram. percent_rank of the last row with
    value q is (cum-1)/(n-1) and of the first row (cum-c)/(n-1) under
    (q, doc_id) ordering, so:  lo = min q with cum-1 ≥ .05(n-1)  and
    hi = max q with cum-c ≤ .95(n-1)  — identical to the window form.
    The bounds table is |sources| rows → broadcast back; means are
    decimal-exact sums over the narrow (source, q) projection."""
    docs = ensure_compute_partitions(
        load_table(spark, sf_dir, "documents", ["doc_id", "text", "source"]),
        "doc_id",
    )
    scored = docs.select(
        "doc_id",
        "source",
        tx.quality_score("text").alias("q"),
    )
    counts = scored.groupBy("source", "q").agg(F.count(F.lit(1)).alias("c"))
    cum_w = (
        Window.partitionBy("source")
        .orderBy("q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hist = counts.withColumn("cum", F.sum("c").over(cum_w))
    sizes = counts.groupBy("source").agg(F.sum("c").alias("n"))
    hist = hist.join(F.broadcast(sizes), "source")
    bounds = hist.groupBy("source").agg(
        F.min(
            F.when(
                (F.col("n") > 1)
                & (F.col("cum") - 1 >= 0.05 * (F.col("n") - 1)),
                F.col("q"),
            )
        ).alias("lo"),
        F.max(
            F.when(
                F.col("cum") - F.col("c") <= 0.95 * (F.col("n") - 1), F.col("q")
            )
        ).alias("hi"),
    )
    clipped = scored.join(F.broadcast(bounds), "source").withColumn(
        "qw", F.least(F.greatest(F.col("q"), F.col("lo")), F.col("hi"))
    )
    return clipped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        dround(
            F.sum(F.col("q").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_raw"),
        dround(
            F.sum(F.col("qw").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_winsor"),
        dround(F.max("lo"), 6).alias("p05"),
        dround(F.max("hi"), 6).alias("p95"),
    )


_WINSOR_SQL = r"""
WITH tq AS (
    SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS t
    FROM documents
), scored AS (
    SELECT doc_id, source,
           round(0.4 * least(len(t) / 64.0, 1.0)
               + 0.4 * coalesce(len(list_distinct(t)) * 1.0 / nullif(len(t), 0), 0.0)
               + 0.2 * least(coalesce(len(list_filter(t, x -> list_contains(
                     ['the','a','an','of','and','to','in','is','it','for'], x)))
                     * 1.0 / nullif(len(t), 0), 0.0) * 4.0, 1.0), 6) AS q
    FROM tq
), ranked AS (
    SELECT *, percent_rank() OVER (PARTITION BY source ORDER BY q, doc_id) AS pr
    FROM scored
), bounds AS (
    SELECT source,
           min(CASE WHEN pr >= 0.05 THEN q END) AS lo,
           max(CASE WHEN pr <= 0.95 THEN q END) AS hi
    FROM ranked GROUP BY source
)
SELECT r.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       floor(CAST(SUM(CAST(r.q AS DECIMAL(18,6))) AS DOUBLE) / count(*)
             * 1e6 + 0.5) / 1e6 AS mean_raw,
       floor(CAST(SUM(CAST(least(greatest(r.q, b.lo), b.hi) AS DECIMAL(18,6)))
                  AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS mean_winsor,
       floor(max(b.lo) * 1e6 + 0.5) / 1e6 AS p05,
       floor(max(b.hi) * 1e6 + 0.5) / 1e6 AS p95
FROM ranked r JOIN bounds b USING (source)
GROUP BY r.source
"""


QUERIES["quality_winsor_stats"] = quality_winsor_stats
ORACLES["quality_winsor_stats"] = _WINSOR_SQL


def quality_psi_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two corpus snapshots' quality
    distributions (even vs odd doc_ids as the A/B stand-in): quality binned
    into 10 fixed-width buckets, PSI term (pᵢ−qᵢ)·ln(pᵢ/qᵢ) per bucket plus
    the total — the standard model-input drift alarm (<0.1 stable, >0.25
    investigate). Fixed bin edges keep the binning engine-identical;
    Laplace-smoothed proportions keep every log finite.

    One scan: snapshot membership is a column, so both distributions come
    from a single 10-row aggregate; the PSI arithmetic runs on that table."""
    docs = ensure_compute_partitions(
        load_table(spark, sf_dir, "documents", ["doc_id", "text"]), "doc_id"
    )
    scored = docs.select(
        (F.col("doc_id") % 2 == 0).cast("int").alias("a"),
        F.least(F.floor(tx.quality_score("text") * 10).cast("int"), F.lit(9))
        .alias("bin"),
    )
    bins = scored.groupBy("bin").agg(
        F.sum("a").alias("na"),
        F.sum(1 - F.col("a")).alias("nb"),
    )
    tots = bins.agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb"),
        F.count(F.lit(1)).alias("k"),
    )
    j = bins.crossJoin(F.broadcast(tots))
    p = (F.col("na") + 1).cast("double") / (F.col("ta") + F.col("k")).cast("double")
    q = (F.col("nb") + 1).cast("double") / (F.col("tb") + F.col("k")).cast("double")
    term = (p - q) * F.log(p / q)
    w = Window.partitionBy()
    return j.select(
        F.col("bin").cast("bigint").alias("bin"),
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round(term, 9).alias("psi_term"),
        F.round(F.sum(term).over(w), 6).alias("psi_total"),
    )


_PSI_SQL = r"""
WITH tq AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
    FROM documents
), scored AS (
    SELECT CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS a,
           least(CAST(floor(
               round(0.4 * least(len(t) / 64.0, 1.0)
                   + 0.4 * coalesce(len(list_distinct(t)) * 1.0 / nullif(len(t), 0), 0.0)
                   + 0.2 * least(coalesce(len(list_filter(t, x -> list_contains(
                         ['the','a','an','of','and','to','in','is','it','for'], x)))
                         * 1.0 / nullif(len(t), 0), 0.0) * 4.0, 1.0), 6)
               * 10) AS INTEGER), 9) AS bin
    FROM tq
), bins AS (
    SELECT bin, SUM(a) AS na, SUM(1 - a) AS nb FROM scored GROUP BY bin
), tots AS (
    SELECT SUM(na) AS ta, SUM(nb) AS tb, count(*) AS k FROM bins
), j AS (
    SELECT bin, na, nb,
           (na + 1) * 1.0 / (ta + k) AS p,
           (nb + 1) * 1.0 / (tb + k) AS q
    FROM bins CROSS JOIN tots
)
SELECT bin,
       CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       round((p - q) * ln(p / q), 9) AS psi_term,
       round(SUM((p - q) * ln(p / q)) OVER (), 6) AS psi_total
FROM j
"""

QUERIES["quality_psi_stats"] = quality_psi_stats
ORACLES["quality_psi_stats"] = _PSI_SQL


_BLM_LAMBDA = 0.7


def quality_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under an interpolated BIGRAM corpus LM:
    p(w₂|w₁) = λ·c(w₁w₂)/c(w₁) + (1−λ)·c(w₂)/N — the next step up from
    the unigram perplexity filter (quality_lm_score): it penalizes
    improbable token SEQUENCES, which is what separates shuffled-word
    gibberish from fluent text that a unigram model scores identically.

    Scale shape: pure word-count joins — per-document bigram counts
    (aggregated before any join, so repeated bigrams never cross the
    shuffle) joined to the corpus bigram and unigram tables on their keys;
    no driver-side vocab, interpolation keeps every probability positive
    (no <unk> machinery needed since the model IS the corpus)."""
    docs = ensure_compute_partitions(
        load_table(spark, sf_dir, "documents", ["doc_id", "text"]), "doc_id"
    )
    toks = docs.withColumn("__t", tx.tokens("text"))
    bg = toks.select(
        "doc_id",
        F.explode_outer(
            F.expr(
                "transform(sequence(1, greatest(size(__t) - 1, 0)), "
                "i -> struct(__t[i-1] AS w1, __t[i] AS w2))"
            )
        ).alias("b"),
    ).where(F.col("b").isNotNull()).select("doc_id", "b.w1", "b.w2")
    # fan-outs: doc_bg feeds the LM build AND the scoring join; lm_bg
    # feeds three marginals plus the join — checkpoint both or the
    # tokenizer re-runs five times (caught by plan_lint).
    doc_bg = bg.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint()
    lm_bg = doc_bg.groupBy("w1", "w2").agg(F.sum("c").alias("c12")).localCheckpoint()
    lm_uni = lm_bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    uni2 = lm_bg.groupBy("w2").agg(F.sum("c12").alias("c2"))
    n_tot = lm_bg.agg(F.sum("c12").alias("n"))
    lam = _BLM_LAMBDA
    scored = (
        doc_bg.join(lm_bg, ["w1", "w2"])
        .join(lm_uni, "w1")
        .join(uni2, "w2")
        .crossJoin(F.broadcast(n_tot))
        .withColumn(
            "lp",
            F.log(
                F.lit(lam) * F.col("c12").cast("double") / F.col("c1").cast("double")
                + F.lit(1 - lam)
                * F.col("c2").cast("double")
                / F.col("n").cast("double")
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.round(-F.sum(F.col("c") * F.col("lp")) / F.sum("c"), 6).alias("xent2"),
    )


_BIGRAM_LM_SQL = r"""
WITH t AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
    FROM documents
), bg AS (
    SELECT doc_id, u.b.w1 AS w1, u.b.w2 AS w2 FROM t,
    LATERAL (SELECT unnest(list_transform(range(1, len(toks)),
        i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS b) u
), doc_bg AS (
    SELECT doc_id, w1, w2, count(*) AS c FROM bg GROUP BY 1, 2, 3
), lm_bg AS (SELECT w1, w2, SUM(c) AS c12 FROM doc_bg GROUP BY 1, 2),
lm_uni AS (SELECT w1, SUM(c12) AS c1 FROM lm_bg GROUP BY 1),
uni2 AS (SELECT w2, SUM(c12) AS c2 FROM lm_bg GROUP BY 1),
nt AS (SELECT SUM(c12) AS n FROM lm_bg)
SELECT d.doc_id,
       CAST(SUM(d.c) AS BIGINT) AS n_bigrams,
       round(-SUM(d.c * ln(0.7 * (b.c12 * 1.0 / u.c1)
                           + 0.3 * (v.c2 * 1.0 / nt.n))) / SUM(d.c), 6)
           AS xent2
FROM doc_bg d
JOIN lm_bg b USING (w1, w2)
JOIN lm_uni u USING (w1)
JOIN uni2 v USING (w2)
CROSS JOIN nt
GROUP BY d.doc_id
"""

QUERIES["quality_bigram_lm_score"] = quality_bigram_lm_score
ORACLES["quality_bigram_lm_score"] = _BIGRAM_LM_SQL


def exact_auc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected ROC-AUC (Mann-Whitney U) per source: how well
    document length separates English documents from the rest. The
    classifier-evaluation primitive every quality-filter pipeline needs —
    computed EXACTLY as relational ops, no sampling and no sort of the raw
    corpus: AUC counts (pos, neg) pairs with score_pos > score_neg plus
    half the ties, so 2U = Σ_v (2·p_v·cum_neg_below + p_v·n_v) over the
    per-distinct-score histogram, all integer arithmetic; the single IEEE
    division 2U / (2·n_pos·n_neg) happens once per source.

    Scale shape: one (source, score) aggregate collapses the corpus to the
    distinct-score histogram; the cumulative-negatives window then runs per
    source over at most |distinct scores| rows (same bounded-grid pattern as
    value_ks_by_type). Sources with a degenerate class (no pos or no neg)
    are excluded identically on both engines."""
    docs = load_table(spark, sf_dir, "documents", ["source", "lang", "n_chars"])
    hist = docs.groupBy("source", "n_chars").agg(
        F.count(F.when(F.col("lang") == "en", 1)).alias("p"),
        F.count(F.when(F.col("lang") != "en", 1)).alias("ng"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.withColumn(
        "cum_neg", F.coalesce(F.sum("ng").over(w), F.lit(0))
    )
    return (
        cum.groupBy("source")
        .agg(
            F.sum("p").cast("bigint").alias("n_pos"),
            F.sum("ng").cast("bigint").alias("n_neg"),
            F.sum(
                F.lit(2) * F.col("p") * F.col("cum_neg")
                + F.col("p") * F.col("ng")
            )
            .cast("bigint")
            .alias("u2"),
        )
        .where((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .withColumn(
            "auc",
            F.col("u2").cast("double")
            / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")),
        )
    )


_AUC_SQL = """
WITH hist AS (
    SELECT source, n_chars,
           count(CASE WHEN lang = 'en' THEN 1 END) AS p,
           count(CASE WHEN lang != 'en' THEN 1 END) AS ng
    FROM documents GROUP BY source, n_chars
), cum AS (
    SELECT *, COALESCE(SUM(ng) OVER (PARTITION BY source ORDER BY n_chars
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS cum_neg
    FROM hist
), agg AS (
    SELECT source,
           CAST(SUM(p) AS BIGINT) AS n_pos,
           CAST(SUM(ng) AS BIGINT) AS n_neg,
           CAST(SUM(2 * p * cum_neg + p * ng) AS BIGINT) AS u2
    FROM cum GROUP BY source
)
SELECT source, n_pos, n_neg, u2,
       CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg) AS auc
FROM agg WHERE n_pos > 0 AND n_neg > 0
"""

QUERIES["exact_auc_stats"] = exact_auc_stats
ORACLES["exact_auc_stats"] = _AUC_SQL


def calibration_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Brier score for a score used as a probability:
    length-normalized score p = n_chars / max(n_chars) "predicting" English,
    binned into 10 equal-width buckets; per bucket the mean prediction, the
    observed positive rate, their calibration gap, and the exact Brier
    contribution. The companion to exact_auc_stats: AUC checks ranking,
    calibration checks whether the scores can be READ as probabilities.

    Everything reduces to integer sums (Σy, Σc, Σc², Σy·c as decimal — c is
    n_chars) per bucket, so one groupBy on the derived bucket key is the
    only shuffle and every float is derived from exact integers by the same
    IEEE expression on both engines. The global max is a broadcast
    one-row aggregate, not a window."""
    docs = load_table(spark, sf_dir, "documents", ["n_chars", "lang"])
    mx = docs.agg(F.max("n_chars").alias("maxc"))
    d = "decimal(38,0)"
    binned = docs.crossJoin(F.broadcast(mx)).select(
        F.least(
            F.floor(F.col("n_chars") * 10 / F.col("maxc")), F.lit(9)
        ).alias("bin"),
        "n_chars",
        "maxc",
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("n_chars").cast(d)).alias("sc"),
        F.sum((F.col("n_chars") * F.col("n_chars")).cast(d)).alias("sc2"),
        F.sum((F.col("y") * F.col("n_chars")).cast(d)).alias("syc"),
        F.max("maxc").alias("maxc"),
    )
    scd = F.col("sc").cast("double")
    mean_p = scd / F.col("n") / F.col("maxc")
    frac_pos = F.col("sy").cast("double") / F.col("n")
    brier = (
        F.col("sc2").cast("double") / (F.col("maxc") * F.col("maxc"))
        - F.lit(2.0) * F.col("syc").cast("double") / F.col("maxc")
        + F.col("sy").cast("double")
    ) / F.col("n")
    return agg.select(
        F.col("bin").cast("bigint").alias("bin"),
        F.col("n").cast("bigint").alias("n"),
        F.round(mean_p, 6).alias("mean_p"),
        F.round(frac_pos, 6).alias("frac_pos"),
        F.round(F.abs(mean_p - frac_pos), 6).alias("cal_gap"),
        F.round(brier, 6).alias("brier"),
    )


_CALIBRATION_SQL = """
WITH mx AS (SELECT MAX(n_chars) AS maxc FROM documents),
binned AS (
    SELECT LEAST(FLOOR(n_chars * 10 / maxc), 9) AS bin,
           n_chars, maxc,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
    FROM documents CROSS JOIN mx
),
agg AS (
    SELECT bin, count(*) AS n, SUM(y) AS sy,
           SUM(CAST(n_chars AS HUGEINT)) AS sc,
           SUM(CAST(n_chars * n_chars AS HUGEINT)) AS sc2,
           SUM(CAST(y * n_chars AS HUGEINT)) AS syc,
           MAX(maxc) AS maxc
    FROM binned GROUP BY bin
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(n AS BIGINT) AS n,
       round(CAST(sc AS DOUBLE) / n / maxc, 6) AS mean_p,
       round(CAST(sy AS DOUBLE) / n, 6) AS frac_pos,
       round(abs(CAST(sc AS DOUBLE) / n / maxc
                 - CAST(sy AS DOUBLE) / n), 6) AS cal_gap,
       round((CAST(sc2 AS DOUBLE) / (maxc * maxc)
              - 2.0 * CAST(syc AS DOUBLE) / maxc
              + CAST(sy AS DOUBLE)) / n, 6) AS brier
FROM agg
"""

QUERIES["calibration_stats"] = calibration_stats
ORACLES["calibration_stats"] = _CALIBRATION_SQL


def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling design: split a 10k-document
    annotation/eval budget across sources proportional to N_h·σ_h (stratum
    size × length standard deviation) — the allocation that minimizes the
    variance of the estimated corpus mean, vs naive proportional-to-size.
    Quotas are integers and sum to EXACTLY the budget via the same
    largest-remainder apportionment as source_quota_allocation.

    N_h·σ_h = sqrt(N·Σx² − (Σx)²) comes straight off exact integer moments
    (one groupBy, map-side combined); the sqrt→floor makes the weight
    integral so the apportionment stays pure integer div/mod. Everything
    after the moment pass runs on the |sources|-row aggregate."""
    from platform_etl_drug_disease_spark.operators.sampling import (
        apportion_quota,
    )

    docs = load_table(spark, sf_dir, "documents", ["source", "n_chars"])
    d = "decimal(38,0)"
    m = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast(d)).alias("sx"),
        F.sum((F.col("n_chars") * F.col("n_chars")).cast(d)).alias("sx2"),
    )
    w = m.select(
        "source",
        "n_docs",
        F.floor(
            F.sqrt(
                (
                    F.col("n_docs").cast(d) * F.col("sx2")
                    - F.col("sx") * F.col("sx")
                ).cast("double")
            )
        ).alias("neyman_w"),
    )
    quotas = apportion_quota(w, "source", "neyman_w", total=10_000)
    return (
        w.join(F.broadcast(quotas), "source")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("neyman_w").cast("bigint").alias("neyman_w"),
            F.col("quota").cast("bigint").alias("quota"),
        )
    )


_NEYMAN_SQL = """
WITH m AS (
    SELECT source, count(*) AS n_docs,
           SUM(CAST(n_chars AS HUGEINT)) AS sx,
           SUM(CAST(n_chars * n_chars AS HUGEINT)) AS sx2
    FROM documents GROUP BY source
), w AS (
    SELECT source, n_docs,
           CAST(FLOOR(SQRT(CAST(n_docs * sx2 - sx * sx AS DOUBLE)))
                AS HUGEINT) AS wt
    FROM m
), t AS (SELECT SUM(wt) AS tw FROM w),
j AS (SELECT w.source, w.n_docs, w.wt, t.tw, w.wt * 10000 AS num
      FROM w CROSS JOIN t),
b AS (
    SELECT source, n_docs, wt, num // tw AS base, num % tw AS rem
    FROM j
), r AS (
    SELECT *, SUM(base) OVER () AS sb,
           row_number() OVER (ORDER BY rem DESC, source) AS rk
    FROM b
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(wt AS BIGINT) AS neyman_w,
       CAST(base + CASE WHEN rk <= 10000 - sb THEN 1 ELSE 0 END AS BIGINT)
           AS quota
FROM r
"""

QUERIES["neyman_allocation"] = neyman_allocation
ORACLES["neyman_allocation"] = _NEYMAN_SQL


def source_nucleus_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p ("nucleus") curation per source: keep each source's highest-
    quality documents until their cumulative quality mass reaches half the
    source's total — the mass-budgeted variant of top-k selection used when
    mixing corpus sources by quality rather than by row count.

    Scale shape (the lint-clean two-phase form — the naive
    ``SUM(q) OVER (PARTITION BY source ORDER BY q DESC)`` per-doc window is
    exactly the low-cardinality-partition global sort plan_lint rejects):

    1. Per (source, exact-score) histogram — one map-side-combinable
       aggregate; the bucket key IS the decimal(18,6) score, so bucket mass
       is ``q·count`` exactly and the histogram is bounded by score
       resolution, not corpus size.
    2. Cumulative mass + the 2·cum vs total comparison run over that
       bounded histogram (window over an aggregate — fine at any scale).
       Comparing ``2·cum < tot`` instead of ``cum < tot/2`` keeps every
       operand an EXACT decimal: no division, no float drift, identical
       verdicts on any engine.
    3. Only the single boundary bucket per source goes back to the doc
       level: its docs get a (source, q)-partitioned row_number by doc_id
       (bucket keys are high-cardinality, so no reducer hot-spot) and the
       same exact-decimal criterion ``2·(cum_before + (rn−1)·q) < tot``.

    Zero-quality docs are excluded up front (they can never contribute
    mass; including them would make "kept" ambiguous at the boundary).
    Output per source: doc counts, kept counts/mass, and the kept share.
    """
    docs = ensure_compute_partitions(
        load_table(spark, sf_dir, "documents", ["doc_id", "text", "source"]),
        "doc_id",
    )
    scored = (
        docs.select(
            "doc_id",
            "source",
            tx.quality_score("text").cast("decimal(18,6)").alias("q"),
        )
        .where(F.col("q") > 0)
        .localCheckpoint()  # fan-out: histogram pass + boundary-bucket doc pass
    )
    hist = (
        scored.groupBy("source", "q")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("bmass", F.col("q") * F.col("c"))
    )
    tot = hist.groupBy("source").agg(
        F.sum("bmass").alias("tot"), F.sum("c").alias("n_docs")
    )
    cum_w = (
        Window.partitionBy("source")
        .orderBy(F.col("q").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hist = hist.withColumn("cum", F.sum("bmass").over(cum_w)).join(
        F.broadcast(tot), "source"
    )
    two = F.lit(2)
    full = hist.where(two * F.col("cum") <= F.col("tot")).groupBy("source").agg(
        F.sum("c").alias("full_kept"), F.sum("bmass").alias("full_mass")
    )
    boundary = hist.where(
        (two * (F.col("cum") - F.col("bmass")) < F.col("tot"))
        & (two * F.col("cum") > F.col("tot"))
    ).select("source", "q", (F.col("cum") - F.col("bmass")).alias("cumb"), "tot")
    bdocs = scored.join(F.broadcast(boundary), ["source", "q"])
    rn_w = Window.partitionBy("source", "q").orderBy("doc_id")
    kept_b = (
        bdocs.withColumn("rn", F.row_number().over(rn_w))
        .where(two * (F.col("cumb") + (F.col("rn") - 1) * F.col("q")) < F.col("tot"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("b_kept"), F.sum("q").alias("b_mass"))
    )
    out = (
        tot.join(full, "source", "left")
        .join(kept_b, "source", "left")
        .select(
            "source",
            "n_docs",
            (
                F.coalesce(F.col("full_kept"), F.lit(0))
                + F.coalesce(F.col("b_kept"), F.lit(0))
            ).alias("n_kept"),
            (
                F.coalesce(F.col("full_mass"), F.lit(0).cast("decimal(18,6)"))
                + F.coalesce(F.col("b_mass"), F.lit(0).cast("decimal(18,6)"))
            )
            .cast("double")
            .alias("kept_mass"),
            F.col("tot").cast("double").alias("total_mass"),
        )
        .withColumn(
            "share_kept", F.col("n_kept").cast("double") / F.col("n_docs")
        )
    )
    return out


# The oracle is the NAIVE per-doc form (window cumsum over (q desc, doc_id))
# — deliberately a different plan computing the same selection, so it checks
# the two-phase rewrite's equivalence, not just its arithmetic: a doc is
# kept iff the exact-decimal mass strictly before it is under half the total.
_NUCLEUS_SQL = r"""
WITH tq AS (
    SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS t
    FROM documents
), scored AS (
    SELECT doc_id, source,
           CAST(round(0.4 * least(len(t) / 64.0, 1.0)
               + 0.4 * coalesce(len(list_distinct(t)) * 1.0 / nullif(len(t), 0), 0.0)
               + 0.2 * least(coalesce(len(list_filter(t, x -> list_contains(
                     ['the','a','an','of','and','to','in','is','it','for'], x)))
                     * 1.0 / nullif(len(t), 0), 0.0) * 4.0, 1.0), 6)
               AS DECIMAL(18,6)) AS q
    FROM tq
), pos AS (SELECT * FROM scored WHERE q > 0),
tot AS (
    SELECT source, SUM(q) AS tot, COUNT(*) AS n_docs FROM pos GROUP BY source
), ranked AS (
    SELECT p.*, SUM(q) OVER (PARTITION BY source ORDER BY q DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
    FROM pos p
), kept AS (
    SELECT r.source, r.q
    FROM ranked r JOIN tot tt USING (source)
    WHERE 2 * (r.cum - r.q) < tt.tot
)
SELECT t.source,
       CAST(t.n_docs AS BIGINT) AS n_docs,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(k.kept_mass, 0) AS DOUBLE) AS kept_mass,
       CAST(t.tot AS DOUBLE) AS total_mass,
       CAST(COALESCE(k.n_kept, 0) AS DOUBLE) / t.n_docs AS share_kept
FROM tot t LEFT JOIN (
    SELECT source, COUNT(*) AS n_kept, SUM(q) AS kept_mass
    FROM kept GROUP BY source
) k USING (source)
"""

QUERIES["source_nucleus_selection"] = source_nucleus_selection
ORACLES["source_nucleus_selection"] = _NUCLEUS_SQL


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al., 2023)
# ---------------------------------------------------------------------------


def dsir_importance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: per-document importance log-weights under
    hashed-unigram bag-of-words models of a TARGET domain vs the RAW pool,
    then top-20% selection, reported per source.

    Method (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"): featurize each document as counts over B=1024
    hashed token buckets; fit smoothed bucket distributions p (target =
    docs from source 'src0', standing in for the high-quality domain) and q
    (raw = every other source); per-doc importance log-weight
    logw = Σ_b c_b · ln(p_b / q_b) with add-0.5 smoothing. Selection takes
    the top 20% of the RAW POOL by logw — the docs to resample INTO the
    training mix; target docs are the reference distribution, not
    selection candidates, so the threshold is computed over raw docs only
    (src0's own row still reports its stats against that threshold, as an
    audit of where the reference sits).

    Scale shape: the bucket models are two B-row aggregates (broadcastable
    at ANY corpus size — the whole point of hashing is the fixed feature
    space); the per-doc score is one equi-join + groupBy over (doc, bucket)
    partial counts, the wordcount shape. The selection threshold is an
    exact disc-quantile by rank arithmetic over the logw histogram
    (operators/scans.quantiles_from_histogram) — no global row sort; the
    histogram's cardinality is the score grid (1e-6 here; a 100-TB run
    would coarsen the quantization, which only coarsens the cut point).

    Determinism: per-doc logw is Σ c·lr over MANY
    buckets in engine-specific order, and logw is NEGATIVE — summing
    doubles then rounding with built-in round() is exactly the divergence
    class the repo's dround rule exists for. So the per-BUCKET log-ratio is
    quantized ONCE to an exact 1e-6 integer grid (floor(lr·1e6 + 0.5) —
    floor is IEEE-exact and consistent for negatives on both engines), and
    every downstream sum (per-doc logw, per-source mean) is EXACT BIGINT
    arithmetic: order-independent, hash-identical. The only residual
    cross-engine surface is ln() itself at a 0.5e-6 quantization boundary,
    on 1024 bucket values — the same accepted exposure as every other
    ln-based catalog query, minus the per-doc sum amplification.
    """
    from platform_etl_drug_disease_spark.operators.scans import (
        quantiles_from_histogram,
        value_histogram,
    )

    B = 1024
    # widen the single-file fixture scan BEFORE the tokenize/explode stage
    # (the single-core corpus-scan trap)
    docs = ensure_compute_partitions(
        load_table(spark, sf_dir, "documents", ["doc_id", "text", "source"]),
        "doc_id",
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("bigint"),
        F.lit(B),
    )
    db = (
        docs.select(
            "doc_id", "source", F.explode_outer(tx.tokens("text")).alias("tok")
        )
        .where(F.col("tok").isNotNull())
        .select("doc_id", "source", bucket.alias("b"))
        .groupBy("doc_id", "source", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()  # feeds the two bucket models AND the scoring join
    )
    tgt = db.where(F.col("source") == "src0")
    raw = db.where(F.col("source") != "src0")
    tcnt = tgt.groupBy("b").agg(F.sum("c").alias("tc"))
    rcnt = raw.groupBy("b").agg(F.sum("c").alias("rc"))
    tt = tgt.agg(F.sum("c").alias("tt"))
    rt = raw.agg(F.sum("c").alias("rt"))
    model = (
        tcnt.join(rcnt, "b", "full_outer")
        .na.fill(0, ["tc", "rc"])
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(rt))
        .select(
            "b",
            # per-bucket log-ratio quantized ONCE onto an exact 1e-6 integer
            # grid: floor is IEEE-exact for negatives on both engines, and
            # everything downstream is then order-independent bigint math.
            F.floor(
                F.log(
                    ((F.col("tc") + F.lit(0.5)) / (F.col("tt") + F.lit(0.5 * B)))
                    / ((F.col("rc") + F.lit(0.5)) / (F.col("rt") + F.lit(0.5 * B)))
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lr"),
        )
    )
    scored = (
        db.join(F.broadcast(model), "b")
        .groupBy("doc_id", "source")
        # exact: c and lr are integers (logw is in 1e-6 ln units)
        .agg(F.sum(F.col("c") * F.col("lr")).cast("bigint").alias("logw"))
        .localCheckpoint()  # feeds the threshold histogram AND the final rollup
    )
    hist = value_histogram(
        scored.where(F.col("source") != "src0").withColumn("__g", F.lit(1)),
        ["__g"],
        "logw",
    )
    thr = quantiles_from_histogram(hist, ["__g"], "logw", {"p80": 0.80}, "disc")
    out = (
        scored.crossJoin(F.broadcast(thr.select("p80")))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                F.when(F.col("logw") >= F.col("p80"), 1).otherwise(0)
            ).cast("bigint").alias("n_selected"),
            # exact bigint sum → one double division → round-half-up via
            # floor (deterministic for negative means, unlike round())
            (
                F.floor(
                    F.sum("logw").cast("decimal(38,0)").cast("double")
                    / F.count(F.lit(1))
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("mean_logw"),
        )
        .withColumn(
            "sel_rate",
            dround(
                F.col("n_selected").cast("double") / F.col("n_docs").cast("double"),
                6,
            ),
        )
    )
    return out


_DSIR_SQL = r"""
WITH toks AS (
    SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS t
    FROM documents
),
u AS (SELECT doc_id, source, unnest(t) AS tok FROM toks),
db AS (
    SELECT doc_id, source,
           CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 1024 AS b,
           COUNT(*) AS c
    FROM u GROUP BY 1, 2, 3
),
tcnt AS (SELECT b, SUM(c) AS tc FROM db WHERE source = 'src0' GROUP BY b),
rcnt AS (SELECT b, SUM(c) AS rc FROM db WHERE source <> 'src0' GROUP BY b),
tt AS (SELECT SUM(c) AS tt FROM db WHERE source = 'src0'),
rt AS (SELECT SUM(c) AS rt FROM db WHERE source <> 'src0'),
model AS (
    SELECT COALESCE(tcnt.b, rcnt.b) AS b,
           CAST(floor(ln(((COALESCE(tc, 0) + 0.5) / (tt + 0.5 * 1024))
                         / ((COALESCE(rc, 0) + 0.5) / (rt + 0.5 * 1024)))
                      * 1e6 + 0.5) AS BIGINT) AS lr
    FROM tcnt FULL OUTER JOIN rcnt ON tcnt.b = rcnt.b
    CROSS JOIN tt CROSS JOIN rt
),
scored AS (
    SELECT db.doc_id, db.source, CAST(SUM(db.c * m.lr) AS BIGINT) AS logw
    FROM db JOIN model m ON db.b = m.b
    GROUP BY db.doc_id, db.source
),
thr AS (
    SELECT xs[CAST(greatest(1, ceil(n * 0.80)) AS BIGINT)] AS p80
    FROM (SELECT list_sort(list(logw)) AS xs, COUNT(*) AS n
          FROM scored WHERE source <> 'src0')
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN logw >= thr.p80 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       floor(CAST(SUM(logw) AS DOUBLE) / COUNT(*) + 0.5) / 1e6 AS mean_logw,
       floor(SUM(CASE WHEN logw >= thr.p80 THEN 1 ELSE 0 END) * 1.0
             / COUNT(*) * 1e6 + 0.5) / 1e6 AS sel_rate
FROM scored CROSS JOIN thr
GROUP BY source
"""

QUERIES["dsir_importance_stats"] = dsir_importance_stats
ORACLES["dsir_importance_stats"] = _DSIR_SQL


def doremi_mixture_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting: one exponentiated-gradient step over
    per-source EXCESS LOSS, from token statistics alone.

    Method (after Xie et al. 2023, "DoReMi: Optimizing Data Mixtures
    Speeds Up Language Model Pretraining" — the one-step, unigram-proxy
    form): per source s, excess loss = mean cross-entropy of s's tokens
    under the CORPUS unigram LM minus under s's OWN unigram LM, which is
    exactly KL(p_s ‖ p_corpus) ≥ 0 — how much a generalist model underfits
    the domain. The EG step upweights underfit domains:
    w_s ∝ baseline_s · exp(η·excess_s) with η = 1, baseline = token share,
    normalized over sources. (Real DoReMi iterates this with a trained
    proxy model; the update algebra and the excess-loss contract are the
    same.)

    Scale shape: two wordcount aggregates — (source, token) partial counts
    map-side combine, then token-keyed join to corpus counts; per-source
    rollup is k rows. No vocab broadcast, no driver state.

    Determinism: the DSIR pattern — per-(source, token) log-ratio quantized
    once onto an exact 1e-6 integer grid, every sum downstream exact
    bigint; the k-row softmax terms are quantized onto a 1e-9 grid before
    the normalizer sum, so even the 20-row normalization is exact integer
    arithmetic over identically-computed terms.
    """
    docs = ensure_compute_partitions(
        load_table(spark, sf_dir, "documents", ["doc_id", "text", "source"]),
        "doc_id",
    )
    st = (
        docs.select("source", F.explode_outer(tx.tokens("text")).alias("tok"))
        .where(F.col("tok").isNotNull())
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()  # feeds corpus counts, per-source totals, and the join
    )
    ct = st.groupBy("tok").agg(F.sum("c").alias("ctot"))
    ns = st.groupBy("source").agg(F.sum("c").alias("n_s"))
    nt = st.agg(F.sum("c").alias("n"))
    # KL(p_s ‖ p) = Σ_tok (c/n_s)·ln((c/n_s)/(ctot/n)); only c>0 terms exist
    # by construction. ln quantized to a 1e-6 integer grid, then exact sums.
    lr = (
        F.floor(
            F.log(
                (F.col("c") / F.col("n_s")) / (F.col("ctot") / F.col("n"))
            )
            * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("lr")
    )
    terms = (
        st.join(ct, "tok")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(nt))
        .select("source", "c", "n_s", "n", lr)
    )
    per_source = terms.groupBy("source").agg(
        F.max("n_s").cast("bigint").alias("n_tokens"),
        F.max("n").alias("__n"),
        F.sum(F.col("c") * F.col("lr")).cast("bigint").alias("__kl_scaled"),
    )
    # excess = exact_int_sum / n_s / 1e6 : identical doubles on both engines
    excess = F.col("__kl_scaled").cast("double") / F.col("n_tokens") / F.lit(1e6)
    baseline = F.col("n_tokens").cast("double") / F.col("__n").cast("double")
    # softmax term quantized to a 1e-9 integer grid BEFORE the normalizer
    # sum → the 20-row normalization is exact integer arithmetic.
    term_scaled = (
        F.floor(baseline * F.exp(excess) * F.lit(1e9) + F.lit(0.5))
        .cast("bigint")
    )
    # checkpoint: the k-row scored table feeds BOTH the normalizer sum and
    # the final select — without it, the vocabulary-sized token join and
    # the per-source rollup evaluate twice (the repeated-scan lint can't
    # see it because the checkpointed st hides it behind one scan).
    scored = per_source.select(
        "source",
        "n_tokens",
        dround(baseline, 6).alias("baseline_share"),
        (F.floor(excess * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("excess_kl"),
        term_scaled.alias("__term"),
    ).localCheckpoint()
    tot = scored.agg(F.sum("__term").cast("bigint").alias("__tot"))
    return (
        scored.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            "baseline_share",
            "excess_kl",
            dround(F.col("__term").cast("double") / F.col("__tot").cast("double"), 6).alias(
                "doremi_weight"
            ),
        )
    )


_DOREMI_SQL = r"""
WITH toks AS (
    SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS t
    FROM documents
),
u AS (SELECT source, unnest(t) AS tok FROM toks),
st AS (SELECT source, tok, COUNT(*) AS c FROM u GROUP BY 1, 2),
ct AS (SELECT tok, SUM(c) AS ctot FROM st GROUP BY tok),
ns AS (SELECT source, SUM(c) AS n_s FROM st GROUP BY source),
nt AS (SELECT SUM(c) AS n FROM st),
terms AS (
    SELECT st.source, st.c, ns.n_s, nt.n,
           CAST(floor(ln((st.c * 1.0 / ns.n_s) / (ct.ctot * 1.0 / nt.n))
                      * 1e6 + 0.5) AS BIGINT) AS lr
    FROM st JOIN ct USING (tok) JOIN ns USING (source) CROSS JOIN nt
),
per_source AS (
    SELECT source,
           CAST(MAX(n_s) AS BIGINT) AS n_tokens,
           MAX(n) AS n,
           CAST(SUM(c * lr) AS BIGINT) AS kl_scaled
    FROM terms GROUP BY source
),
scored AS (
    SELECT source, n_tokens,
           floor(n_tokens * 1.0 / n * 1e6 + 0.5) / 1e6 AS baseline_share,
           floor((CAST(kl_scaled AS DOUBLE) / n_tokens / 1e6) * 1e6 + 0.5) / 1e6
               AS excess_kl,
           CAST(floor((n_tokens * 1.0 / n)
                      * exp(CAST(kl_scaled AS DOUBLE) / n_tokens / 1e6)
                      * 1e9 + 0.5) AS BIGINT) AS term
    FROM per_source
),
tot AS (SELECT CAST(SUM(term) AS BIGINT) AS tot FROM scored)
SELECT source, n_tokens, baseline_share, excess_kl,
       floor(CAST(term AS DOUBLE) / tot * 1e6 + 0.5) / 1e6 AS doremi_weight
FROM scored CROSS JOIN tot
"""

QUERIES["doremi_mixture_stats"] = doremi_mixture_stats
ORACLES["doremi_mixture_stats"] = _DOREMI_SQL


def doremi_token_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end mixing recipe: DoReMi reweighting → EXACT-budget token
    quotas. Takes the one-step DoReMi domain weights and apportions a
    1,000,000-token training budget across sources by largest-remainder
    (operators/sampling.apportion_quota), so Σ token_quota == budget
    EXACTLY — the artifact a data-mixing stage actually consumes (a weight
    vector can't be executed; an integer per-source budget can).

    Scale/determinism: the weights are k rows; quantizing them onto their
    own 1e-6 grid (floor(w·1e6+0.5) recovers the exact integer both
    engines hold) makes the whole apportionment integer div/mod —
    bit-exact, like source_quota_allocation."""
    from platform_etl_drug_disease_spark.operators.sampling import (
        apportion_quota,
    )

    weights = (
        doremi_mixture_stats(spark, sf_dir)
        .select(
            "source",
            "doremi_weight",
            F.floor(F.col("doremi_weight") * F.lit(1e6) + F.lit(0.5))
            .cast("bigint")
            .alias("__wu"),
        )
        .localCheckpoint()  # k rows; feeds the apportionment AND the output join
    )
    quotas = apportion_quota(weights, "source", "__wu", total=1_000_000, out="token_quota")
    return weights.select("source", "doremi_weight").join(quotas, "source")


_DOREMI_QUOTA_SQL = f"""
WITH d AS ({_DOREMI_SQL}),
agg AS (
    SELECT source, doremi_weight,
           CAST(floor(doremi_weight * 1e6 + 0.5) AS HUGEINT) AS w
    FROM d
), tot AS (SELECT SUM(w) AS tw FROM agg),
j AS (
    SELECT source, doremi_weight, w, tw,
           (w * 1000000) // tw AS base,
           (w * 1000000) % tw AS rem
    FROM agg CROSS JOIN tot
), ranked AS (
    SELECT *,
           row_number() OVER (ORDER BY rem DESC, source) AS rk,
           1000000 - SUM(base) OVER () AS leftover
    FROM j
)
SELECT source, doremi_weight,
       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
           AS token_quota
FROM ranked
"""

QUERIES["doremi_token_quota"] = doremi_token_quota
ORACLES["doremi_token_quota"] = _DOREMI_QUOTA_SQL
