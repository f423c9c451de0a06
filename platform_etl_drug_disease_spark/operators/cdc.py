"""Change-data-capture merge: latest-wins upsert of a change batch into a
base snapshot, with optional tombstone deletes.

The lakehouse maintenance pass every training-data pipeline needs once the
corpus stops being append-only: recrawled pages replace stale ones, takedown
requests delete rows, metadata backfills patch columns. The reference
pipeline is snapshot-in/snapshot-out (it rebuilds from full dumps,
platformDataBackendDrugDiseaseSimilarity.sc reads whole-release parquet);
this operator is what replaces the full rebuild when inputs become
incremental.

The 100-TB shape:

- ONE shuffle, keyed by the merge key: ``unionByName`` is shuffle-free, and
  the latest-wins pick is a single ``row_number`` window over
  (key → version desc). Map-side, AQE coalesces/splits the post-shuffle
  partitions; a hot key (many versions of one doc) is bounded by the change
  batch, not the corpus.
- The base side should arrive partitioned by the merge key
  (sources/writers.py:write_bucketed_table produces exactly that layout),
  in which case the exchange on the base side disappears and only the small
  change batch shuffles.
- At real lakehouse scale the base is additionally pruned to the partitions
  the change batch touches (join change-batch partition keys → partition
  filter) before the merge — rewrite cost tracks the delta, not the corpus.
  With the harness's single-file fixtures that prune is a no-op, so it is
  documented rather than simulated.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: ordering column appended by upsert_latest; callers never see it.
_RN = "_cdc_rn"


def upsert_latest(
    base: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    version_col: str = "version",
    tombstone_col: str | None = None,
) -> DataFrame:
    """Merge ``changes`` into ``base``, keeping the highest-``version_col``
    row per key (ties broken toward the change batch is the caller's job:
    give changes strictly greater versions).

    Both inputs must share a schema (``unionByName`` with no missing-column
    fill — a merge that invents nulls hides producer bugs). If
    ``tombstone_col`` is given, rows whose winning version has it true are
    deleted from the result (and the marker column is dropped).
    """
    merged = base.unionByName(changes)
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        F.col(version_col).desc()
    )
    out = (
        merged.withColumn(_RN, F.row_number().over(w))
        .where(F.col(_RN) == 1)
        .drop(_RN)
    )
    if tombstone_col is not None:
        out = out.where(~F.coalesce(F.col(tombstone_col), F.lit(False))).drop(
            tombstone_col
        )
    return out


def scd2_history(
    feed: DataFrame,
    keys: Sequence[str],
    version_col: str = "version",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension Type 2: turn a change feed (every observed
    version of every key) into interval-stamped history rows — each row
    valid from its own version until the key's next version, the latest
    version per key open-ended and flagged current. The companion to
    :func:`upsert_latest`, which keeps only the winner: SCD2 keeps the full
    audit trail, which is what lineage/reproducibility audits of a training
    corpus need (what did this document look like when snapshot N trained?).

    One shuffle, keyed by the dimension key; per-key state is one ``lead``
    frontier row, so a hot key costs its own version count, never the
    corpus. If the feed arrives already key-partitioned (the bucketed
    writers in sources/writers.py), the exchange disappears entirely.
    """
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        F.col(version_col).asc()
    )
    return (
        feed.withColumn(valid_from, F.col(version_col))
        .withColumn(valid_to, F.lead(version_col).over(w))
        .withColumn(current_col, F.col(valid_to).isNull())
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
    status_col: str = "diff_status",
) -> DataFrame:
    """Row-level diff of two snapshot versions: full-outer join on the key
    with a content-hash compare of ``compare_cols`` → one row per key seen
    in either snapshot, tagged added / removed / changed / unchanged, with
    the new side's columns (old side's for removed rows).

    The release-review twin of :func:`upsert_latest`: the merge applies a
    change feed; the diff RECOVERS one from two materialized versions —
    what you audit before promoting a recrawl, or feed into
    scd2_history/incremental maintenance when the producer ships whole
    snapshots instead of deltas. One shuffle (the join); with both sides
    landed by the bucketed writer on the key it is exchange-free, and at
    lakehouse scale the join prunes to partitions whose min/max stats
    differ."""
    def hashed(df: DataFrame, tag: str) -> DataFrame:
        cols = [F.col(c) for c in keys]
        payload = F.md5(
            F.concat_ws(
                "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                          for c in compare_cols]
            )
        )
        renamed = [F.col(c).alias(f"{tag}_{c}") for c in compare_cols]
        return df.select(*cols, payload.alias(f"__h_{tag}"), *renamed)

    j = hashed(old, "old").join(hashed(new, "new"), list(keys), "full_outer")
    status = (
        F.when(F.col("__h_old").isNull(), F.lit("added"))
        .when(F.col("__h_new").isNull(), F.lit("removed"))
        .when(F.col("__h_old") != F.col("__h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out_cols = [
        F.coalesce(F.col(f"new_{c}"), F.col(f"old_{c}")).alias(c)
        for c in compare_cols
    ]
    return j.select(*[F.col(k) for k in keys], status.alias(status_col), *out_cols)
