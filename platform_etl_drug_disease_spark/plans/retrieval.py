"""Retrieval + text-preparation catalog over ``documents``: TF-IDF term
weighting, BM25 keyword search, fixed-size token chunking with overlap, and
PII scrub stats — the remaining text-side passes of an LLM data pipeline
(what runs between raw crawl and tokenizer shards).

Tokenization is byte-identical to plans/dedup_text (split lowercased trim on
\\s+), so the DuckDB oracles share the same CTE and every score matches
bit-for-bit: IDF/BM25 values are rounded at fixed points and summed through
the exact-decimal detour (plans/_util).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.operators import text as tx
from platform_etl_drug_disease_spark.operators.pii import with_pii_stats
from platform_etl_drug_disease_spark.operators.retrieval import (
    bm25_search,
    tfidf_top_terms,
)
from platform_etl_drug_disease_spark.schemas import (
    ensure_compute_partitions,
    load_table,
)


def _load_docs(spark: SparkSession, sf_dir: str, columns: list[str] | None = None):
    """documents table with compute-shaped partitioning: the fixture ships as
    one parquet file → a one-partition scan, which would run every tokenize/
    shingle/regex stage on a single core. Repartition by doc_id up to the
    cluster's slot count when the scan arrives skinnier — same
    partition-follows-compute rule as plans/similarity._load_emb; a no-op on
    a well-partitioned corpus."""
    df = load_table(spark, sf_dir, "documents", columns)
    return ensure_compute_partitions(df, "doc_id")


_TOKS_CTE = r"""
WITH toks AS (
    SELECT doc_id, lang, source,
           string_split_regex(trim(lower(text)), '\s+') AS t
    FROM documents
)
"""


# ---------------------------------------------------------------------------
# TF-IDF per-document top terms
# ---------------------------------------------------------------------------


def tfidf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (rank, term, score)."""
    docs = _load_docs(spark, sf_dir, ["doc_id", "text"])
    return tfidf_top_terms(docs, k=3)


_TFIDF_SQL = _TOKS_CTE + """
, post AS (
    SELECT doc_id, unnest(t) AS term FROM toks
), tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM post GROUP BY doc_id, term
), dfreq AS (
    SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term,
           round(tf.tf * round(ln(1.0 + (n.n_docs - dfreq.df + 0.5)
                                      / (dfreq.df + 0.5)), 6), 6) AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
), ranked AS (
    SELECT doc_id, term, tfidf,
           CAST(row_number() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, term) AS INTEGER) AS rank
    FROM scored
)
SELECT doc_id, rank, term, tfidf FROM ranked WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# BM25 search
# ---------------------------------------------------------------------------

_QUERY_TERMS = ["join", "hash", "window"]
_BM25_K, _BM25_K1, _BM25_B = 10, 1.2, 0.75


def bm25_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for the fixed query {join, hash, window}."""
    docs = _load_docs(spark, sf_dir, ["doc_id", "text"])
    return bm25_search(docs, _QUERY_TERMS, k=_BM25_K, k1=_BM25_K1, b=_BM25_B)


_BM25_SQL = _TOKS_CTE + f"""
, post AS (
    SELECT doc_id, unnest(t) AS term FROM toks
), tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM post WHERE term IN ('join', 'hash', 'window')
    GROUP BY doc_id, term
), dfreq AS (
    SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), stats AS (
    SELECT count(*) AS n_docs,
           CAST(SUM(CAST(len(t) AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avgdl
    FROM toks
), dl AS (SELECT doc_id, len(t) AS dl FROM toks),
w AS (
    SELECT tf.doc_id,
           round(round(ln(1.0 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)), 6)
                 * round((tf.tf * ({_BM25_K1} + 1.0))
                         / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                            + {_BM25_B} * dl.dl / s.avgdl)), 6), 6) AS w
    FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
), scored AS (
    SELECT doc_id,
           round(CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE), 6) AS score
    FROM w GROUP BY doc_id
), ranked AS (
    SELECT doc_id, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
    FROM scored
)
SELECT doc_id, score, rank FROM ranked WHERE rank <= {_BM25_K}
"""


# ---------------------------------------------------------------------------
# fixed-size token chunking with overlap
# ---------------------------------------------------------------------------

_CHUNK_SIZE, _CHUNK_STEP = 64, 48  # 16-token overlap


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunks (size 64, stride 48): one output row per
    chunk with its index, token count, and an md5 digest of the chunk text.

    The whole pass is projection + posexplode — embarrassingly parallel, no
    shuffle at all: each document's chunk starts come from ``sequence`` over
    its own token count, and ``slice`` re-materializes each chunk from the
    one tokenization. At 100 TB this is the tokenizer-sharding pass; the
    digest (not the chunk text) is what crosses the compare, so the oracle
    proves chunk boundaries AND content without moving text."""
    docs = _load_docs(spark, sf_dir, ["doc_id", "text"])
    toks = F.col("__toks")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), n - 1, F.lit(_CHUNK_STEP))
    chunk = F.slice(toks, F.col("start") + 1, _CHUNK_SIZE)
    return (
        docs.withColumn("__toks", tx.tokens("text"))
        # explode_outer + null filter: see boilerplate_span_stats — plain
        # explode's inferred size()>0 filter would re-run the tokenizer
        # below the exchange. Tokens are never empty, so nothing is dropped.
        .select("doc_id", toks.alias("__toks"), F.explode_outer(starts).alias("start"))
        .where(F.col("start").isNotNull())
        .select(
            "doc_id",
            (F.col("start") / _CHUNK_STEP).cast("int").alias("chunk_idx"),
            F.size(chunk).cast("int").alias("n_chunk_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_digest"),
        )
    )


_CHUNK_SQL = _TOKS_CTE + f"""
, starts AS (
    SELECT doc_id, t, unnest(range(0, len(t), {_CHUNK_STEP})) AS start
    FROM toks WHERE len(t) > 0
)
SELECT doc_id,
       CAST(start / {_CHUNK_STEP} AS INTEGER) AS chunk_idx,
       CAST(len(t[start + 1 : start + {_CHUNK_SIZE}]) AS INTEGER) AS n_chunk_tokens,
       md5(list_aggregate(t[start + 1 : start + {_CHUNK_SIZE}], 'string_agg', ' '))
           AS chunk_digest
FROM starts
"""


# ---------------------------------------------------------------------------
# PII scrub stats (planted PII — the raw corpus is synthetic and clean)
# ---------------------------------------------------------------------------


def _planted(docs: DataFrame) -> DataFrame:
    """Deterministically plant PII so the scrubber has ground truth at every
    scale factor (same pattern as plans/similarity's planted near-dups):
    every 7th doc gains an email, every 13th a phone number, every 17th an
    IPv4 — reproduced verbatim in the oracle SQL."""
    d = F.col("doc_id")
    text = F.col("text")
    text = F.when(
        d % 7 == 0,
        F.concat(text, F.lit(" reach user"), d.cast("string"), F.lit("@mail.example.com")),
    ).otherwise(text)
    text = F.when(
        d % 13 == 0,
        F.concat(text, F.lit(" call 555-867-"), F.lpad((d % 10000).cast("string"), 4, "0")),
    ).otherwise(text)
    text = F.when(
        d % 17 == 0,
        F.concat(text, F.lit(" from 10.0."), (d % 256).cast("string"), F.lit(".25")),
    ).otherwise(text)
    return docs.withColumn("text", text)


def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII census over the planted corpus: docs scanned, docs with
    any PII, per-kind occurrence totals, and the total redacted length —
    the latter proves the redaction itself byte-identical to the oracle's
    without shipping redacted text. Pure codegen'd regex projections + one
    aggregate."""
    docs = _planted(_load_docs(spark, sf_dir, ["doc_id", "source", "text"]))
    stats = with_pii_stats(docs, "text")
    any_pii = (F.col("n_email") + F.col("n_phone") + F.col("n_ipv4")) > 0
    return stats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(any_pii.cast("bigint")).alias("docs_with_pii"),
        F.sum("n_email").alias("total_emails"),
        F.sum("n_phone").alias("total_phones"),
        F.sum("n_ipv4").alias("total_ipv4"),
        F.sum("clean_len").alias("clean_chars"),
    )


_PII_SQL = r"""
WITH planted AS (
    SELECT doc_id, source,
           CASE WHEN doc_id % 17 = 0 THEN base3 || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.25'
                ELSE base3 END AS text
    FROM (
        SELECT doc_id, source,
               CASE WHEN doc_id % 13 = 0 THEN base2 || ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE base2 END AS base3
        FROM (
            SELECT doc_id, source,
                   CASE WHEN doc_id % 7 = 0 THEN text || ' reach user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
                        ELSE text END AS base2
            FROM documents
        )
    )
), stats AS (
    SELECT doc_id, source,
           len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,4}')) AS n_email,
           len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phone,
           len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ipv4,
           length(regexp_replace(regexp_replace(regexp_replace(text,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,4}', '<PII>', 'g'),
               '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PII>', 'g'),
               '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<PII>', 'g')) AS clean_len
    FROM planted
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_email + n_phone + n_ipv4 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
       CAST(SUM(n_email) AS BIGINT) AS total_emails,
       CAST(SUM(n_phone) AS BIGINT) AS total_phones,
       CAST(SUM(n_ipv4) AS BIGINT) AS total_ipv4,
       CAST(SUM(clean_len) AS BIGINT) AS clean_chars
FROM stats GROUP BY source
"""


QUERIES = {
    "tfidf_top_terms": tfidf_query,
    "bm25_search": bm25_query,
    "doc_chunking": doc_chunking,
    "pii_scrub_stats": pii_scrub_stats,
}

ORACLES = {
    "tfidf_top_terms": _TFIDF_SQL,
    "bm25_search": _BM25_SQL,
    "doc_chunking": _CHUNK_SQL,
    "pii_scrub_stats": _PII_SQL,
}


# ---------------------------------------------------------------------------
# cross-document boilerplate span census (C4-style repeated-span detection)
# ---------------------------------------------------------------------------

_BOILER_REL_DF, _BOILER_FLAG = 0.05, 0.5


def boilerplate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection: a 3-gram span is boilerplate if
    it appears in ≥ max(2, 5% of docs) distinct documents; each document is
    scored by the fraction of its distinct spans that are boilerplate, then
    rolled up per source (avg fraction + docs flagged above 0.5).

    This is the cross-corpus complement of repetition_quality (within-doc):
    the C4/Dolma "remove spans seen everywhere" pass. Scale shape: spans
    travel as md5-derived int64 keys (never strings) into the census
    aggregate; the census is then PRUNED to frequent keys only before the
    join back — on a real corpus boilerplate spans are a sliver of the
    vocabulary, so the join's build side collapses (AQE picks broadcast)
    and the corpus-side spans are joined without moving the census."""
    docs = _load_docs(spark, sf_dir, ["doc_id", "source", "text"])
    # explode_outer, NOT explode: plain explode lets InferFiltersFromGenerate
    # derive ``size(__sh) > 0 AND isnotnull(__sh)`` and push it below the
    # repartition exchange, where the whole shingle CASE expression is
    # evaluated twice per document on the unsplit scan partition — a
    # measured 20 s single-core stall at sf0.1. explode_outer infers no such
    # constraint; the post-Generate null filter can't sink below it.
    spans = (
        tx.with_shingles(docs, "text", n=3, out="__sh")
        .select(
            "doc_id",
            "source",
            F.explode_outer("__sh").alias("__span"),
        )
        .where(F.col("__span").isNotNull())
        .select(
            "doc_id",
            "source",
            F.conv(F.substring(F.md5("__span"), 1, 15), 16, 10)
            .cast("bigint")
            .alias("key"),
        )
        # spans fan out (census + join-back): without the checkpoint the
        # whole shingle→md5 pipeline runs twice over the corpus.
        .localCheckpoint()
    )
    total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    freq_keys = (
        spans.groupBy("key")
        .agg(F.count(F.lit(1)).alias("span_df"))
        .crossJoin(F.broadcast(total))
        .where(
            F.col("span_df")
            >= F.greatest(F.lit(2), F.ceil(F.lit(_BOILER_REL_DF) * F.col("n_total")))
        )
        .select("key", F.lit(True).alias("__freq"))
    )
    per_doc = (
        spans.join(freq_keys, "key", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("__freq").isNotNull().cast("bigint")).alias("n_freq"),
        )
        .withColumn("frac", F.round(F.col("n_freq") / F.col("n_spans"), 6))
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(F.col("frac").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_boiler_frac"),
        F.sum((F.col("frac") >= _BOILER_FLAG).cast("bigint")).alias("n_flagged"),
    )


_BOILER_SQL = _TOKS_CTE + f"""
, sh AS (
    SELECT doc_id, source,
           CASE WHEN len(t) >= 3
                THEN list_distinct(list_transform(range(1, len(t) - 1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                ELSE CAST([] AS VARCHAR[]) END AS sh
    FROM toks
), spans AS (
    SELECT doc_id, source,
           CAST(('0x' || substr(md5(unnest(sh)), 1, 15)) AS BIGINT) AS key
    FROM sh WHERE len(sh) > 0
), total AS (SELECT count(*) AS n_total FROM documents),
freq_keys AS (
    SELECT key FROM spans CROSS JOIN total
    GROUP BY key, n_total
    HAVING count(*) >= greatest(2, CAST(CEIL({_BOILER_REL_DF} * n_total) AS BIGINT))
), per_doc AS (
    SELECT s.doc_id, s.source,
           round(SUM(CASE WHEN f.key IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS frac
    FROM spans s LEFT JOIN freq_keys f USING (key)
    GROUP BY s.doc_id, s.source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(SUM(CAST(frac AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
           AS avg_boiler_frac,
       CAST(SUM(CASE WHEN frac >= {_BOILER_FLAG} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_flagged
FROM per_doc GROUP BY source
"""

QUERIES["boilerplate_span_stats"] = boilerplate_span_stats
ORACLES["boilerplate_span_stats"] = _BOILER_SQL


# ---------------------------------------------------------------------------
# hybrid keyword + vector retrieval (reciprocal-rank fusion)
# ---------------------------------------------------------------------------
# The serve-side composition of the two retrieval channels this catalog
# already proves independently: BM25 over the inverted index (keyword) and
# exact cosine kNN over embeddings (vector; documents and embeddings share
# the id space 0..N-1 by fixture construction). RRF needs only the two
# top-k lists — each channel does its own corpus-size-independent pruning,
# and the fusion is an O(k) full-outer join (operators/retrieval.py:rrf_fuse).

_HYB_K, _HYB_CH_K, _HYB_C, _HYB_QVEC = 10, 20, 60, 7


def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 docs by RRF over BM25({join,hash,window}) and cosine-kNN of
    the query embedding (vec_id 7), 20 candidates per channel."""
    from platform_etl_drug_disease_spark.operators.retrieval import rrf_fuse
    from platform_etl_drug_disease_spark.operators.similarity import knn_bruteforce
    from platform_etl_drug_disease_spark.plans.similarity import _load_emb

    docs = _load_docs(spark, sf_dir, ["doc_id", "text"])
    kw = bm25_search(docs, _QUERY_TERMS, k=_HYB_CH_K, k1=_BM25_K1, b=_BM25_B)

    emb = _load_emb(spark, sf_dir, ["vec_id", "embedding"])
    queries = emb.where(F.col("vec_id") == _HYB_QVEC).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    candidates = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    vec = knn_bruteforce(queries, candidates, k=_HYB_CH_K).select(
        F.col("c_id").alias("doc_id"), "rank"
    )
    return rrf_fuse(kw, vec, k=_HYB_K, c=_HYB_C)


def _hybrid_sql() -> str:
    from platform_etl_drug_disease_spark.plans.similarity import _NDOT, _UNIT_CTES

    return (
        _TOKS_CTE
        + f"""
, post AS (
    SELECT doc_id, unnest(t) AS term FROM toks
), tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM post WHERE term IN ('join', 'hash', 'window')
    GROUP BY doc_id, term
), dfreq AS (
    SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), stats AS (
    SELECT count(*) AS n_docs,
           CAST(SUM(CAST(len(t) AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avgdl
    FROM toks
), dl AS (SELECT doc_id, len(t) AS dl FROM toks),
w AS (
    SELECT tf.doc_id,
           round(round(ln(1.0 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)), 6)
                 * round((tf.tf * ({_BM25_K1} + 1.0))
                         / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                            + {_BM25_B} * dl.dl / s.avgdl)), 6), 6) AS w
    FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
), kw_scored AS (
    SELECT doc_id,
           round(CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE), 6) AS score
    FROM w GROUP BY doc_id
), kw AS (
    SELECT doc_id, rank FROM (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
        FROM kw_scored
    ) WHERE rank <= {_HYB_CH_K}
), {_UNIT_CTES},
q AS (SELECT nv AS qnv FROM n WHERE vec_id = {_HYB_QVEC}),
vec_scored AS (
    SELECT c.vec_id AS doc_id,
           {_NDOT.format(a="q.qnv", b="c.nv")} AS cosine_sim
    FROM q CROSS JOIN n c WHERE c.vec_id != {_HYB_QVEC}
), vec AS (
    SELECT doc_id, rank FROM (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cosine_sim DESC, doc_id) AS INTEGER) AS rank
        FROM vec_scored
    ) WHERE rank <= {_HYB_CH_K}
), fused AS (
    SELECT coalesce(kw.doc_id, vec.doc_id) AS doc_id,
           CAST(coalesce(kw.rank, 0) AS INTEGER) AS rank_kw,
           CAST(coalesce(vec.rank, 0) AS INTEGER) AS rank_vec,
           round(coalesce(CAST(1.0 AS DOUBLE) / ({_HYB_C} + kw.rank), 0.0)
                 + coalesce(CAST(1.0 AS DOUBLE) / ({_HYB_C} + vec.rank), 0.0),
                 6) AS rrf_score
    FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id
)
SELECT doc_id, rrf_score, rank_kw, rank_vec,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rank
FROM fused
ORDER BY rrf_score DESC, doc_id
LIMIT {_HYB_K}
"""
    )


_HYBRID_SQL = _hybrid_sql()

QUERIES["hybrid_rrf_search"] = hybrid_rrf_search
ORACLES["hybrid_rrf_search"] = _HYBRID_SQL

def phrase_search_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval ("table hash") through the positional
    inverted index: consecutive terms join on (doc, position+1), so only
    the two query terms' postings ever move — the selective phrase plan of
    a search engine, never a per-query full-text scan. Top 20 docs by
    occurrence count."""
    from platform_etl_drug_disease_spark.operators.retrieval import (
        phrase_search,
    )

    docs = ensure_compute_partitions(
        load_table(spark, sf_dir, "documents", ["doc_id", "text"]), "doc_id"
    )
    hits = phrase_search(docs, ["table", "hash"])
    return hits.orderBy(F.col("n_occurrences").desc(), "doc_id").limit(20)


_PHRASE_SQL = r"""
WITH t AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
    FROM documents
), post AS (
    SELECT doc_id, u.term, u.pos FROM t,
    LATERAL (SELECT unnest(toks) AS term,
                    unnest(range(1, len(toks) + 1)) AS pos) u
), hits AS (
    SELECT a.doc_id, count(*) AS n_occurrences
    FROM (SELECT doc_id, pos FROM post WHERE term = 'table') a
    JOIN (SELECT doc_id, pos FROM post WHERE term = 'hash') b
      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    GROUP BY a.doc_id
)
SELECT doc_id, CAST(n_occurrences AS BIGINT) AS n_occurrences
FROM hits ORDER BY n_occurrences DESC, doc_id LIMIT 20
"""

QUERIES["phrase_search_stats"] = phrase_search_stats
ORACLES["phrase_search_stats"] = _PHRASE_SQL

