"""Text-analysis operators for large-scale training-data pipelines.

All JVM-side compositions (split/HOF/hash built-ins) — no Python UDFs — so
they run inside whole-stage codegen over 100 TB of documents. Each returns a
Column usable in any projection; the catalog (plans/dedup_text.py) wires them
into oracle-checked queries over the ``documents`` fixture table.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language marker vocabularies for the n-gram/stopword heuristic
# language id. Deliberately small: language ID at scale is a first-pass
# filter, not a classifier.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "los", "y"],
    "fr": ["le", "la", "les", "des", "et"],
    "de": ["der", "die", "das", "und", "ein"],
}

STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "for"]


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of lower-cased trimmed text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(F.lower(c)), r"\s+")


def _as_tokens(tok_col: Column | str) -> Column:
    return F.col(tok_col) if isinstance(tok_col, str) else tok_col


def token_count_of(tok_col: Column | str) -> Column:
    return F.size(_as_tokens(tok_col))


def token_count(text: Column | str) -> Column:
    return token_count_of(tokens(text))


def distinct_token_ratio_of(tok_col: Column | str) -> Column:
    """Lexical diversity: distinct tokens / total tokens (null on empty)."""
    t = _as_tokens(tok_col)
    return F.size(F.array_distinct(t)).cast("double") / F.nullif(
        F.size(t).cast("double"), F.lit(0.0)
    )


def stopword_ratio_of(
    tok_col: Column | str, stopwords: list[str] | None = None
) -> Column:
    t = _as_tokens(tok_col)
    sw = F.array(*[F.lit(w) for w in (stopwords or STOPWORDS)])
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
    return n_stop.cast("double") / F.nullif(F.size(t).cast("double"), F.lit(0.0))


def mean_token_length_of(tok_col: Column | str) -> Column:
    t = _as_tokens(tok_col)
    total = F.aggregate(
        F.transform(t, lambda x: F.length(x)), F.lit(0), lambda a, e: a + e
    )
    return total.cast("double") / F.nullif(F.size(t).cast("double"), F.lit(0.0))


def quality_score_of(tok_col: Column | str) -> Column:
    """Heuristic document quality in [0,1] over a token array: blend of
    length saturation, lexical diversity, and a stopword-presence prior —
    the shape of C4-style quality filters, as pure column arithmetic."""
    t = _as_tokens(tok_col)
    n = F.size(t).cast("double")
    length_sat = F.least(n / F.lit(64.0), F.lit(1.0))
    diversity = F.coalesce(distinct_token_ratio_of(t), F.lit(0.0))
    stop_prior = F.least(
        F.coalesce(stopword_ratio_of(t), F.lit(0.0)) * F.lit(4.0), F.lit(1.0)
    )
    return F.round(
        F.lit(0.4) * length_sat + F.lit(0.4) * diversity + F.lit(0.2) * stop_prior, 6
    )


def quality_score(text: Column | str) -> Column:
    """Text-input form of :func:`quality_score_of`. When computing several
    stats over one corpus, tokenize into a real column once and use the
    ``*_of`` forms — HOF lambdas run interpreted, so every inlined
    ``tokens()`` re-runs the split per consumer (see with_shingles)."""
    return quality_score_of(tokens(text))


def lang_scores_of(tok_col: Column | str) -> dict[str, Column]:
    """Marker-hit count per candidate language (the n-gram heuristic)."""
    t = _as_tokens(tok_col)
    out = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(w) for w in markers])
        out[lang] = F.size(F.filter(t, lambda x: F.array_contains(arr, x)))
    return out


def lang_id_of(tok_col: Column | str) -> Column:
    """argmax over lang_scores_of with deterministic alphabetical tie-break;
    'und' (undetermined) when no marker hits at all."""
    scores = lang_scores_of(tok_col)
    pairs = F.array(
        *[
            F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
            for lang in sorted(scores, reverse=True)  # later langs first
        ]
    )
    # array_max on struct = lexicographic (score, lang); reverse-sorted input
    # + max picks highest score, then alphabetically-last lang name — invert
    # by sorting langs descending so ties resolve to alphabetically-first.
    best = F.array_max(pairs)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def lang_id(text: Column | str) -> Column:
    return lang_id_of(tokens(text))


BPE_ISH_PATTERN = r"[a-z]+|[0-9]|[^a-z0-9\s]"


def bpe_ish_tokens(text: Column | str) -> Column:
    """BPE-pre-tokenizer-style segmentation via regex (letter runs, single
    digits, single punctuation marks — the GPT-2 pre-split shape without the
    merges table). A cheap, engine-portable approximation for token-budget
    accounting over a corpus."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.trim(F.lower(c)), F.lit(BPE_ISH_PATTERN), F.lit(0))


def bpe_ish_token_count(text: Column | str) -> Column:
    return F.size(bpe_ish_tokens(text))


def rolling_hash_of(tok_col: Column | str, base: int = 131, mod: int = 2147483647) -> Column:
    """Polynomial rolling hash (Rabin-Karp) over a token array:
    ``h = (h*base + md5_int(token)) % mod`` left fold.

    Order-sensitive (unlike the bag-of-words fingerprint) — two documents
    with the same tokens in different order hash differently. base/mod are
    sized so every intermediate fits int64 in any engine (no overflow UB:
    h < 2^31, token int < 2^28 ⇒ h*131 + t < 2^39)."""
    t = _as_tokens(tok_col)
    tok_int = F.transform(
        t, lambda x: F.conv(F.substring(F.md5(x), 1, 7), 16, 10).cast("bigint")
    )
    return F.aggregate(
        tok_int,
        F.lit(0).cast("bigint"),
        lambda acc, e: (acc * F.lit(base) + e) % F.lit(mod),
    )


def bow_fingerprint_of(tok_col: Column | str) -> Column:
    """Bag-of-words document fingerprint: md5 over the sorted distinct token
    set — robust to token order / repetition, portable across engines."""
    t = F.sort_array(F.array_distinct(_as_tokens(tok_col)))
    return F.md5(F.concat_ws(" ", t))


def shingles_from_tokens(tok_col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles over an ALREADY-MATERIALIZED token array
    column. ``tok_col`` must be a plain column reference: inlining the
    tokenizer expression here makes every element_at re-run the split —
    quadratic in document length (a 20× slowdown caught by a catalog
    timing run)."""
    return F.array_distinct(raw_shingles_from_tokens(tok_col, n))


def raw_shingles_from_tokens(tok_col: Column | str, n: int = 3) -> Column:
    """Word n-grams WITH multiplicity (no array_distinct) — the counting form
    for repetition analysis: a doc that repeats one phrase 50× must show 50
    occurrences, which the set form (shingles_from_tokens) collapses. Same
    materialized-token-column contract as shingles_from_tokens."""
    t = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    gram = F.transform(
        F.sequence(F.lit(0), F.size(t) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.when(F.size(t) >= n, gram).otherwise(F.array().cast("array<string>"))


def with_shingles(df, text_col: str, n: int = 3, out: str = "sh"):
    """Two-step shingling: tokenize into a real column, then build n-grams by
    indexing that attribute. Always use this (not an inline expression) when
    shingling a corpus."""
    return df.withColumn("__toks", tokens(text_col)).withColumn(
        out, shingles_from_tokens("__toks", n)
    ).drop("__toks")
