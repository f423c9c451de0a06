"""Keyword retrieval over a document corpus: inverted-index postings,
TF-IDF term weighting, and BM25 ranked search.

The 100-TB shape: the corpus is tokenized ONCE into a postings table
(doc_id, term, tf) — one explode plus one shuffle whose map-side partial
aggregate collapses each document's repeated terms before they hit the
wire. Everything downstream is relational algebra over postings:

- document frequency is a term-keyed aggregate of postings (second
  shuffle, rows = |vocab| after partials — tiny relative to the corpus);
- a BM25 search NEVER scores the corpus: the broadcast query-term list
  semi-joins the postings first, so the scored row count is
  sum(df(q) for q in query), independent of corpus size — the classic
  inverted-index serve path, expressed as a broadcast join Catalyst can
  reorder and push;
- per-document top-k terms reduce map-side via max_by over a struct, the
  same no-window pattern as operators/similarity._assign_cells.

Everything is JVM expressions (split/explode/log/round) — no Python in
the hot path. All scores are rounded to 6 places so the DuckDB oracle
matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.operators import text as tx


def postings(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Inverted-index postings: one row per (doc, term) with the term count.

    Tokenize once, explode, count. The groupBy's map-side partial aggregate
    means repeated terms inside a document never cross the shuffle — the
    wire carries at most |doc| distinct terms per document.

    explode_outer + null filter, not plain explode: explode lets Spark's
    InferFiltersFromGenerate derive a ``size(tokens) > 0`` constraint and
    push it below any exchange under the Generate, re-evaluating the
    tokenizer on the pre-shuffle side (see plans/retrieval's boilerplate
    query for the measured pathology). Tokenization never yields an empty
    array ('' splits to ['']), so the filter drops nothing."""
    return (
        df.select(F.col(id_col), F.explode_outer(tx.tokens(text_col)).alias("term"))
        .where(F.col("term").isNotNull())
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def doc_frequency(post: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(term, df): number of documents containing each term."""
    return post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def idf(df_col, n_docs_col) -> F.Column:
    """Smoothed IDF: ln(1 + (N - df + 0.5) / (df + 0.5)) — the BM25+ form,
    strictly positive, no special-casing of df == N terms."""
    return F.round(
        F.log(
            F.lit(1.0)
            + (n_docs_col - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))
        ),
        6,
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k TF-IDF terms per document: (doc_id, rank, term, tfidf).

    Postings join term-stats on term (the stats side is |vocab| rows — a
    broadcast in any real corpus), then the per-doc top-k reduces map-side:
    sort_array over collected (score, term) structs would shuffle arrays, so
    instead each document's terms collapse to k rows via a grouped
    max_by-struct cascade — here expressed as the window-free
    sort_array+slice over a per-doc collect_list, which AQE keeps as one
    shuffle keyed by doc_id."""
    post = postings(docs, id_col, text_col)
    n_docs = docs.select(F.countDistinct(id_col).alias("n_docs"))
    stats = doc_frequency(post, id_col).crossJoin(F.broadcast(n_docs))
    scored = post.join(F.broadcast(stats), "term").select(
        F.col(id_col),
        "term",
        F.round(F.col("tf") * idf(F.col("df"), F.col("n_docs")), 6).alias("tfidf"),
    )
    # per-doc top-k: collect (score desc, term asc) structs, sort, slice.
    ranked = (
        scored.groupBy(id_col)
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            (-F.col("tfidf")).alias("neg"),
                            F.col("term").alias("term"),
                            F.col("tfidf").alias("tfidf"),
                        )
                    )
                ),
                1,
                k,
            ).alias("top")
        )
        .select(F.col(id_col), F.posexplode("top").alias("pos", "t"))
        .select(
            id_col,
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("t.term").alias("term"),
            F.col("t.tfidf").alias("tfidf"),
        )
    )
    return ranked


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked lists — the standard hybrid
    (keyword + vector) retrieval combiner: score(d) = Σ 1/(c + rank_i(d))
    over the channels that returned d.

    Output: (doc_id, rrf_score, rank_kw, rank_vec, rank) — per-channel ranks
    kept so callers can see which channel surfaced each hit; a channel that
    did not return the doc contributes 0 to the score and reports rank 0
    (0, not null: nullable ints round-trip to float64 in pandas and would
    break the driver's exact dtype compare).

    Scale shape: the inputs are top-k lists (k rows each, by construction of
    the upstream searches), so the fuse itself is O(k) — a full-outer join
    of two k-row frames plus a k-row sort. The heavy lifting stays in the
    channels (inverted-index prune for BM25, ANN candidate generation for
    the vector side); fusion never touches the corpus."""
    a = ranked_a.select(F.col(id_col), F.col(rank_col).alias("rank_kw"))
    b = ranked_b.select(F.col(id_col), F.col(rank_col).alias("rank_vec"))
    contrib_a = F.lit(1.0) / (F.lit(c) + F.col("rank_kw")).cast("double")
    contrib_b = F.lit(1.0) / (F.lit(c) + F.col("rank_vec")).cast("double")
    fused = a.join(b, id_col, "full_outer").select(
        id_col,
        F.coalesce(F.col("rank_kw"), F.lit(0)).cast("int").alias("rank_kw"),
        F.coalesce(F.col("rank_vec"), F.lit(0)).cast("int").alias("rank_vec"),
        F.round(
            F.coalesce(contrib_a, F.lit(0.0)) + F.coalesce(contrib_b, F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    from pyspark.sql import Window

    top = fused.orderBy(F.col("rrf_score").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        id_col, "rrf_score", "rank_kw", "rank_vec", "rank"
    )


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 top-k documents for a bag-of-terms query: (doc_id, score, rank).

    The query-term list is a literal broadcast; the postings semi-join on it
    prunes the inverted index BEFORE any scoring, so the scored set is the
    union of the query terms' postings lists — corpus-size-independent.
    Ties broken by doc_id ascending for a deterministic oracle.

    The corpus is scanned and tokenized exactly ONCE: document length is
    Σtf over the postings table (every doc has ≥1 posting — empty text
    tokenizes to ['']), so dl / avgdl / n_docs all derive from the checkpointed
    postings rather than re-reading the corpus (the repo plan linter flags
    multi-scan fan-outs)."""
    post = postings(docs, id_col, text_col).localCheckpoint()
    dl = post.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    n_and_avg = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        # integer sum is exact — order-independent without the decimal detour
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    qterms = [t.lower() for t in query_terms]
    matched = post.where(F.col("term").isin(qterms))
    stats = doc_frequency(matched, id_col)
    scored = (
        matched.join(F.broadcast(stats), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(n_and_avg))
        .withColumn(
            "w",
            idf(F.col("df"), F.col("n_docs"))
            * F.round(
                (F.col("tf") * (F.lit(k1) + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
                ),
                6,
            ),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum(F.round(F.col("w"), 6)), 6).alias("score"))
    )
    # global top-k WITHOUT a one-partition window shuffle: orderBy+limit
    # compiles to TakeOrderedAndProject (per-partition heaps merged at the
    # driver); the rank window then runs over k rows, not the corpus.
    from pyspark.sql import Window

    top = scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        id_col, "score", "rank"
    )


def positional_postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional inverted index: (doc, term, position) rows — the
    structure phrase and proximity queries need on top of plain postings.
    posexplode keeps the token's offset; the Generate-filter guard is not
    needed here because the exploded array is the materialized token
    column, not an inline expression."""
    from platform_etl_drug_disease_spark.operators import text as tx

    return (
        df.withColumn("__toks", tx.tokens(text_col))
        .select(id_col, F.posexplode("__toks").alias("pos", "term"))
        .where(F.col("term").isNotNull() & (F.length("term") > 0))
    )


def phrase_search(
    df: DataFrame,
    phrase_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase matching via the positional index: each consecutive
    term pair joins on (doc, position+1), so only the PHRASE TERMS'
    postings move — the classic selective phrase plan (never a full-text
    scan per query). Returns (doc, n_occurrences) for docs containing the
    phrase."""
    assert len(phrase_terms) >= 2
    post = positional_postings(df, id_col, text_col)
    cur = post.where(F.col("term") == phrase_terms[0]).select(
        id_col, F.col("pos").alias("p0")
    )
    for i, t in enumerate(phrase_terms[1:], start=1):
        nxt = post.where(F.col("term") == t).select(
            id_col, (F.col("pos") - i).alias("p0")
        )
        cur = cur.join(nxt, [id_col, "p0"])
    return cur.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_occurrences"))
