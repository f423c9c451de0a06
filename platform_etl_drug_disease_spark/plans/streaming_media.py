"""Catalog entries for Structured Streaming and multimodal-column operators.

Streaming entries run the REAL streaming engine (file stream source →
stateful aggregation → memory sink, Trigger.AvailableNow) over the harness
events table and are checked against the SAME DuckDB oracles as their batch
twins — the correctness claim is streaming == batch == oracle. Complete
output mode is used because with AvailableNow the watermark never passes the
final windows, so append would (correctly) withhold them; the memory sink is
a test/backfill surface, never the 100-TB path (that is writeStream in
append mode with watermarks, landing each micro-batch through
streaming/windows.py:write_batch_idempotent).

Multimodal entries exercise the binary-payload plumbing of
operators/multimodal.py end-to-end: documents.text → binary payload + typed
metadata → Arrow-batched mapInPandas feature extraction / frame sampling.
The pseudo-decoder is md5/sha2-derived, so DuckDB can replicate it exactly —
the plumbing gets a full value-hash oracle, not just a rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.operators.multimodal import (
    extract_media_features,
    sample_frames,
)
from platform_etl_drug_disease_spark.plans._util import dsum
from platform_etl_drug_disease_spark.plans.events_time import (
    _ANOMALY_SQL as _ANOMALY_BATCH_SQL,
    _HOURLY_SQL,
    _SESSIONS_SQL,
)
from platform_etl_drug_disease_spark.plans.memo_owners import session_memo
from platform_etl_drug_disease_spark.schemas import load_table
from platform_etl_drug_disease_spark.streaming.windows import (
    input_scaled_shuffle_partitions,
    run_to_memory_sink,
)


def _events_partitions(spark: SparkSession, sf_dir: str) -> int:
    """State/shuffle partition count for event-stream queries, derived from
    the events table's on-disk size (streaming/windows.py:
    input_scaled_shuffle_partitions — guide §2 scale-adaptive partitioning)."""
    return input_scaled_shuffle_partitions(spark, [f"{sf_dir}/events.parquet*"])


# ts arrives in two spellings across fixture generations (TESTDATA.md):
# TIMESTAMP(NANOS), which Spark's reader only accepts via nanosAsLong, or
# plain TIMESTAMP_MICROS. A stream source declares its schema up front and
# cannot sniff per-row, so pick the schema from the parquet footer
# (schemas.events_ts_unit) — same normalization as the batch load_table.
_EVENTS_NANOS_SCHEMA = (
    "event_id bigint, ts long, user_id bigint, event_type string,"
    " value double, props string"
)
_EVENTS_MICROS_SCHEMA = _EVENTS_NANOS_SCHEMA.replace("ts long", "ts timestamp")


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_drug_disease_spark.schemas import events_ts_unit

    nanos = events_ts_unit(sf_dir) == "ns"
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # glob, not a bare file path: the file stream source requires its base
    # path to be a directory (it resolves the non-glob prefix as basePath).
    raw = (
        spark.readStream.schema(
            _EVENTS_NANOS_SCHEMA if nanos else _EVENTS_MICROS_SCHEMA
        )
        .format("parquet")
        .load(f"{sf_dir}/events.parquet*")
    )
    if nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def streaming_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed counts+sums via the streaming engine; output
    and oracle identical to the batch ``hourly_windows`` query."""
    stream = _event_stream(spark, sf_dir)
    agg = stream.groupBy(
        F.window("ts", "1 hour").alias("w"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("value_sum"))
    out = run_to_memory_sink(
        agg, "cat_stream_hourly", output_mode="complete",
        shuffle_partitions=_events_partitions(spark, sf_dir),
    )
    return out.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
        "n",
        "value_sum",
    )


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``F.session_window`` sessionization (30-min gap) via the
    streaming engine, rolled up per user AFTER the stream completes; matches
    the batch lag-gap sessionization oracle (same session semantics)."""
    stream = _event_stream(spark, sf_dir)
    sessions = stream.groupBy(
        F.session_window("ts", "30 minutes").alias("s"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    # NOT input-scaled: the session-window merge is compute-bound (per-key
    # sort + interval merge), and interleaved A/B at sf0.1 showed the
    # bytes-derived count LOSING (3.15 s vs 2.39 s min-of-3) — unlike the
    # tumbling-window and interval-join entries where store bookkeeping
    # dominates.
    out = run_to_memory_sink(
        sessions, "cat_stream_sessions", output_mode="complete"
    )
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    )


def streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) over micro-batches:
    per-user running event counts. Update-mode memory sink keeps every
    emitted update; the final state per user is the max running count (counts
    are monotone). Count-only output so the oracle compare is exact-integer."""
    from platform_etl_drug_disease_spark.streaming.windows import (
        running_user_totals,
    )

    stream = _event_stream(spark, sf_dir)
    # NOT input-scaled: applyInPandasWithState cost is per-row Python work
    # in the state function — partitions must follow cores (measured:
    # 1.7 s -> 7.2 s at the bytes-derived count), unlike the JVM
    # stateful ops where store bookkeeping dominates.
    updates = run_to_memory_sink(
        running_user_totals(stream), "cat_stream_totals", output_mode="update"
    )
    return updates.groupBy("user_id").agg(
        F.max("total_events").alias("total_events")
    )


_TOTALS_SQL = """
SELECT user_id, COUNT(*) AS total_events
FROM events
GROUP BY user_id
"""


def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases within 1 hour after a click by
    the same user. Inner joins emit every match regardless of watermark, so
    the AvailableNow run is complete and the batch SQL oracle applies."""
    from platform_etl_drug_disease_spark.streaming.windows import (
        stream_stream_interval_join,
    )

    stream = _event_stream(spark, sf_dir)
    clicks = stream.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    purchases = stream.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    joined = stream_stream_interval_join(
        clicks, purchases, key="user_id", left_ts="c_ts", right_ts="p_ts",
        within="1 hour",
    )
    out = run_to_memory_sink(
        joined, "cat_stream_ssjoin", output_mode="append",
        shuffle_partitions=_events_partitions(spark, sf_dir),
    )
    return out.select("user_id", "click_id", "purchase_id")


_SSJOIN_SQL = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


def _media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → canonical media table: utf-8 text bytes as the opaque
    payload, deterministic typed metadata derived from the id."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            (F.col("doc_id") % 30).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary payloads:
    byte size + content digest per media row (the deterministic stub decoder
    — digest math DuckDB replicates for an exact value-hash check)."""
    media = _media_table(spark, sf_dir)
    feats = extract_media_features(media, payload_col="payload", mode="fake")
    return feats.select("media_id", "payload_bytes", "content_digest")


_FEATURES_SQL = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
       md5(text) AS content_digest
FROM documents
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling: one row per sampled frame index (every
    10th of meta.n_frames), digest chained from the payload — the
    row-explosion shape of a real frame extractor."""
    media = _media_table(spark, sf_dir)
    return sample_frames(media, every_n=10, payload_col="payload")


_FRAMES_SQL = """
WITH m AS (
    SELECT doc_id AS media_id,
           CAST(doc_id % 30 AS INT) AS n_frames,
           sha256(text || '#') AS d0
    FROM documents
)
SELECT media_id,
       CAST(f.i AS INT) AS frame_idx,
       sha256(d0 || CAST(f.i AS VARCHAR)) AS frame_digest
FROM m, LATERAL (SELECT unnest(range(0, n_frames, 10)) AS i) f
WHERE n_frames > 0
"""




_DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


_FEED_SCHEMA = "doc_id bigint, text string"

# staged-feed landing dirs, shared by the two multibatch twins — see
# _stage_feed's docstring.
_STAGED_FEED_CACHE: dict[tuple, str] = {}

#: session memos for the serve twins' CORPUS SNAPSHOT artifacts. The
#: single-batch and multibatch twins of each family index the IDENTICAL
#: static corpus — rebuilding the shingle table / band index / slot-row
#: index per catalog query repeated ~1.5-2 s of identical work. A serving
#: platform builds the corpus snapshot index once and matches every feed
#: batch against it; that is exactly this memo. Memo owners:
#: streaming_incremental_dedup (minhash), streaming_containment_incremental
#: (containment). The artifacts are eager localCheckpoints, not lazy
#: persists: a checkpointed artifact with eviction is a deliberate
#: retention, not a leak.
_STREAM_MINHASH_CACHE: dict[tuple, tuple[DataFrame, DataFrame]] = {}
_STREAM_CONTAINMENT_CACHE: dict[tuple, tuple[DataFrame, ...]] = {}


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The static corpus the serve twins match against: every document the
    feed (``doc_id % 10 == 0``) does not carry."""
    return load_table(spark, sf_dir, "documents", ["doc_id", "text"]).where(
        F.col("doc_id") % 10 != 0
    )


@session_memo(_STREAM_MINHASH_CACHE, "documents")
def _minhash_corpus_artifacts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(shingle table, band index) of the corpus snapshot, built once
    outside the micro-batch loop and shared by the MinHash serve twins."""
    from platform_etl_drug_disease_spark.operators.dedup import (
        _shingle_table,
        banded_signatures,
    )

    c_sh = _shingle_table(
        _corpus(spark, sf_dir), "doc_id", "text", 3
    ).localCheckpoint()
    return c_sh, banded_signatures(c_sh, "doc_id", 16, 4).localCheckpoint()


@session_memo(_STREAM_CONTAINMENT_CACHE, "documents")
def _containment_corpus_artifacts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(shingles, hot-shingle list, bucket-capped slot-row index) of the
    corpus snapshot, built once outside the micro-batch loop and shared by
    the containment serve twins."""
    from platform_etl_drug_disease_spark.operators.dedup import (
        _hot_shingle_hashes,
        _shingle_table,
        containment_corpus_index,
    )

    c_sh = _shingle_table(
        _corpus(spark, sf_dir), "doc_id", "text", 3
    ).localCheckpoint()
    c_hot = _hot_shingle_hashes(c_sh, 256).localCheckpoint()
    c_idx = containment_corpus_index(
        c_sh, "doc_id", n_hashes=16, max_slot_df=32, hot_shingles=c_hot
    ).localCheckpoint()
    return c_sh, c_hot, c_idx


@session_memo(_STAGED_FEED_CACHE, "documents")
def _stage_feed(spark: SparkSession, sf_dir: str, n_files: int) -> str:
    """Write the incoming-feed subset (``doc_id % 10 == 0``, the same docs
    the single-batch twins stream) into a fresh landing directory as
    ``n_files`` parquet files, so a file-stream reader with
    ``maxFilesPerTrigger=1`` fires ``n_files`` separate micro-batches
    (a per-batch-cost claim needs >= 3 real batches to be a measurement,
    not an argument). Round-robin ``repartition`` spreads
    docs across files; WHICH docs share a batch never affects the final
    union, because every match is computed per new doc against the static
    corpus index.

    The landing dir is DETERMINISTIC per (corpus dir, n_files) and written
    with overwrite mode, so repeated invocations (timed repeats of a
    multibatch query) reuse one directory instead of accumulating
    corpus-sized mkdtemp copies for the life of the box. The session memo
    skips even the overwrite rewrite while the corpus is unchanged. (The
    runners' match OUTPUT dirs stay mkdtemp-fresh on purpose: reusing a
    streaming checkpoint dir would make a new run think the feed was
    already processed.)"""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{n_files}".encode()
    ).hexdigest()[:12]
    feed_dir = os.path.join(
        tempfile.gettempdir(), f"spark_graft_feed_{tag}_{n_files}"
    )
    (
        load_table(spark, sf_dir, "documents", ["doc_id", "text"])
        .where(F.col("doc_id") % 10 == 0)
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(feed_dir)
    )
    return feed_dir


def _feed_stream(
    spark: SparkSession,
    sf_dir: str,
    feed_dir: str | None,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """The new-documents file stream: straight from the snapshot's
    ``documents`` file (single file -> one AvailableNow micro-batch), or
    from a staged landing dir with a ``maxFilesPerTrigger`` rate limit
    (-> one micro-batch per staged file). The ``% 10`` predicate is applied
    either way — a no-op on staged files, which are pre-filtered."""
    reader = spark.readStream.schema(
        _FEED_SCHEMA if feed_dir else _DOCS_SCHEMA
    ).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.load(feed_dir if feed_dir else f"{sf_dir}/documents.parquet*")
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
    )


def _minhash_stream_run(
    spark: SparkSession,
    sf_dir: str,
    feed_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    batch_log: list | None = None,
) -> tuple[DataFrame, str]:
    """Shared runner for the MinHash-LSH streaming serve twins: static
    corpus index built ONCE outside the micro-batch loop, each micro-batch
    matched via operators/dedup.incremental_minhash_matches and landed
    through the idempotent per-batch_id writer. Returns (matches_df,
    out_dir) — out_dir keeps the per-batch partition column readable for
    the parity tests. ``batch_log`` (when given) receives one
    ``{batch_id, n_docs, wall_s}`` dict per micro-batch — the
    flat-per-batch-cost evidence. The per-batch persist is released in a
    ``finally`` block: a micro-batch that raises must not leak it for the
    rest of the session."""
    import tempfile
    import time

    from platform_etl_drug_disease_spark.operators.dedup import (
        _shingle_table,
        incremental_minhash_matches,
    )
    from platform_etl_drug_disease_spark.streaming.windows import (
        write_batch_idempotent,
    )

    corpus = _corpus(spark, sf_dir)
    feed = _feed_stream(spark, sf_dir, feed_dir, max_files_per_trigger)
    out_dir = tempfile.mkdtemp(prefix="stream_incdedup_")
    corpus_sh, corpus_bands = _minhash_corpus_artifacts(spark, sf_dir)

    def match_batch(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.monotonic()
        batch_sh = _shingle_table(batch_df, "doc_id", "text", 3).persist()
        try:
            matches = incremental_minhash_matches(
                batch_df,
                corpus,
                "doc_id",
                "text",
                shingle_n=3,
                n_hashes=16,
                n_bands=4,
                threshold=0.5,
                new_shingles=batch_sh,
                corpus_shingles=corpus_sh,
                corpus_bands=corpus_bands,
            )
            write_batch_idempotent(matches, out_dir, batch_id)
        finally:
            batch_sh.unpersist()
        if batch_log is not None:
            # capture the wall BEFORE the n_docs count: the count is a
            # separate Spark job over the batch's landing file, run only
            # for the log — inside the timed window it would inflate every
            # reported per-batch wall by one scan.
            wall_s = time.monotonic() - t0
            batch_log.append(
                {
                    "batch_id": batch_id,
                    "n_docs": batch_df.count(),
                    "wall_s": wall_s,
                }
            )

    # deliberately NOT input-scaled (cf. the JVM-stateful entries):
    # foreachBatch has no state stores, and the matcher's exploded
    # shingle joins are compute-bound — core-count partitions win
    # (measured: containment 3.7 s -> 9.4 s when scoped to the
    # bytes-derived count).
    # No finally-unpersist: the corpus artifacts are session memos.
    q = (
        feed.writeStream.foreachBatch(match_batch)
        .option("checkpointLocation", f"{out_dir}/_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out_dir).select("new_id", "corpus_id", "jaccard"),
        out_dir,
    )


def _containment_stream_run(
    spark: SparkSession,
    sf_dir: str,
    feed_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    batch_log: list | None = None,
) -> tuple[DataFrame, str]:
    """Shared runner for the containment streaming serve twins — same shape
    as ``_minhash_stream_run`` with the containment matcher's three corpus
    snapshot artifacts (shingles, hot-shingle list, bucket-capped slot-row
    index) built once outside the loop."""
    import tempfile
    import time

    from platform_etl_drug_disease_spark.operators.dedup import (
        _shingle_table,
        incremental_containment_matches,
    )
    from platform_etl_drug_disease_spark.streaming.windows import (
        write_batch_idempotent,
    )

    corpus = _corpus(spark, sf_dir)
    feed = _feed_stream(spark, sf_dir, feed_dir, max_files_per_trigger)
    out_dir = tempfile.mkdtemp(prefix="stream_inccont_")
    corpus_sh, corpus_hot, corpus_index = _containment_corpus_artifacts(
        spark, sf_dir
    )

    def match_batch(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.monotonic()
        batch_sh = _shingle_table(batch_df, "doc_id", "text", 3).persist()
        try:
            matches = incremental_containment_matches(
                batch_df,
                corpus,
                "doc_id",
                "text",
                shingle_n=3,
                threshold=0.8,
                n_hashes=16,
                max_shingle_df=256,
                max_slot_df=32,
                new_shingles=batch_sh,
                corpus_shingles=corpus_sh,
                corpus_hot=corpus_hot,
                corpus_index=corpus_index,
            )
            write_batch_idempotent(matches, out_dir, batch_id)
        finally:
            batch_sh.unpersist()
        if batch_log is not None:
            # capture the wall BEFORE the n_docs count: the count is a
            # separate Spark job over the batch's landing file, run only
            # for the log — inside the timed window it would inflate every
            # reported per-batch wall by one scan.
            wall_s = time.monotonic() - t0
            batch_log.append(
                {
                    "batch_id": batch_id,
                    "n_docs": batch_df.count(),
                    "wall_s": wall_s,
                }
            )

    # deliberately NOT input-scaled (cf. the JVM-stateful entries):
    # foreachBatch has no state stores, and the matcher's exploded
    # shingle joins are compute-bound — core-count partitions win
    # (measured: containment 3.7 s -> 9.4 s when scoped to the
    # bytes-derived count).
    # No finally-unpersist: the corpus artifacts are session memos.
    q = (
        feed.writeStream.foreachBatch(match_batch)
        .option("checkpointLocation", f"{out_dir}/_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out_dir).select(
            "new_id", "corpus_id", "containment"
        ),
        out_dir,
    )


def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup on the streaming engine: new documents
    arrive as a file stream (docs with ``doc_id % 10 == 0`` play the
    incoming feed, as in the batch ``dedup_incremental``), and each
    micro-batch is matched against the STATIC corpus LSH index inside
    ``foreachBatch`` — band-key equi-join + count-verified Jaccard, per-batch
    cost tracking the batch, never the corpus. Matches land through the
    idempotent per-batch_id parquet writer (exactly-once in effect across
    crash/replay), then read back. Output and oracle identical to
    ``dedup_incremental``: streaming == batch == oracle."""
    df, _ = _minhash_stream_run(spark, sf_dir)
    return df


def streaming_dedup_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``streaming_incremental_dedup`` under a REAL multi-micro-batch feed:
    the same incoming docs staged as 3 landing files and rate-limited with
    ``maxFilesPerTrigger=1``, so ``foreachBatch``
    fires >= 3 times against the once-built corpus index. Every match is
    per-new-doc against the static index, so the batched union is
    value-identical to the single-batch twin and to the batch
    ``dedup_incremental`` — all three share one oracle. What this entry
    adds is driver-proven evidence that the serve path is correct ACROSS
    batch boundaries (no state bleeds between batches; replay-idempotent
    landing per batch_id), with parity pinned per batch by
    tests/test_streaming.py::test_multibatch_per_batch_parity."""
    feed_dir = _stage_feed(spark, sf_dir, n_files=3)
    df, _ = _minhash_stream_run(
        spark, sf_dir, feed_dir=feed_dir, max_files_per_trigger=1
    )
    return df


def streaming_containment_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion CONTAINMENT on the streaming engine — the
    asymmetric sibling of ``streaming_incremental_dedup``, closing the
    containment family's streaming serve gap: new
    documents arrive as a file stream (``doc_id % 10 == 0`` plays the feed,
    as in the batch ``containment_incremental``), and each micro-batch is
    matched as CONTAINED (trigram containment >= 0.8) against the STATIC
    corpus single-slot MinHash index inside ``foreachBatch``
    (operators/dedup.incremental_containment_matches: corpus hot-list
    shared with the batch side -> one signature universe, size prune, exact
    count-based verify — per-batch cost tracks the batch, never the
    corpus). Matches land through the idempotent per-batch_id parquet
    writer (exactly-once in effect across crash/replay), then read back.
    Output and oracle identical to ``containment_incremental``:
    streaming == batch == oracle, pinned by a parity pytest."""
    df, _ = _containment_stream_run(spark, sf_dir)
    return df


def streaming_containment_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``streaming_containment_incremental`` under a REAL multi-micro-batch
    feed: the incoming docs staged as 3 landing files,
    ``maxFilesPerTrigger=1``, so the containment matcher runs >= 3 times
    against the once-built corpus index (shingles + hot list + slot-row
    index, all outside the loop). Value-identical to the single-batch twin
    and the batch ``containment_incremental`` (matches are per-new-doc
    against static state) — one shared oracle; this entry driver-proves
    cross-batch correctness, with per-batch parity pinned by
    tests/test_streaming.py::test_multibatch_per_batch_parity."""
    feed_dir = _stage_feed(spark, sf_dir, n_files=3)
    df, _ = _containment_stream_run(
        spark, sf_dir, feed_dir=feed_dir, max_files_per_trigger=1
    )
    return df


QUERIES = {
    "streaming_hourly_windows": streaming_hourly_windows,
    "streaming_session_windows": streaming_session_windows,
    "streaming_user_totals": streaming_user_totals,
    "streaming_click_purchase_join": streaming_click_purchase_join,
    "streaming_incremental_dedup": streaming_incremental_dedup,
    "streaming_dedup_multibatch": streaming_dedup_multibatch,
    "streaming_containment_incremental": streaming_containment_incremental,
    "streaming_containment_multibatch": streaming_containment_multibatch,
    "multimodal_features": multimodal_features,
    "multimodal_frame_sample": multimodal_frame_sample,
}

from platform_etl_drug_disease_spark.plans.dedup_text import (
    _CONTAINMENT_INCR_SQL,
    _INCREMENTAL_SQL,
)

ORACLES = {
    "streaming_incremental_dedup": _INCREMENTAL_SQL,
    "streaming_dedup_multibatch": _INCREMENTAL_SQL,
    "streaming_containment_incremental": _CONTAINMENT_INCR_SQL,
    "streaming_containment_multibatch": _CONTAINMENT_INCR_SQL,
    "streaming_hourly_windows": _HOURLY_SQL,
    "streaming_session_windows": _SESSIONS_SQL,
    "streaming_user_totals": _TOTALS_SQL,
    "streaming_click_purchase_join": _SSJOIN_SQL,
    "multimodal_features": _FEATURES_SQL,
    "multimodal_frame_sample": _FRAMES_SQL,
}


# ---------------------------------------------------------------------------
# streaming CDC: change feed → foreachBatch latest-wins merge
# ---------------------------------------------------------------------------

_CDC_FEED_SCHEMA = (
    "o_orderkey bigint, o_orderstatus string, o_totalprice double,"
    " version int, deleted boolean"
)


def streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``cdc_upsert_stats``: the update/tombstone batches
    arrive as a file stream (maxFilesPerTrigger=1 → multiple micro-batches),
    and each batch is merged into the running snapshot inside
    ``foreachBatch`` via the same latest-wins operator as the batch query —
    snapshot versions land under ``v<batch_id>`` so a replayed batch
    overwrites its own output (exactly-once in effect). Tombstones stay IN
    the snapshot state (a later lower-version row must not resurrect);
    the final census filters them, exactly like the batch merge. Output and
    oracle identical to ``cdc_upsert_stats``: streaming == batch == oracle."""
    import tempfile

    from platform_etl_drug_disease_spark.operators.cdc import upsert_latest
    from platform_etl_drug_disease_spark.plans._util import dsum

    orders = load_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_orderstatus", "o_totalprice"]
    )
    base = orders.withColumn("version", F.lit(0)).withColumn(
        "deleted", F.lit(False)
    )
    updates = (
        orders.where(F.col("o_orderkey") % 10 == 3)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
        )
        .withColumn("version", F.lit(1))
        .withColumn("deleted", F.lit(False))
    )
    deletes = (
        orders.where(F.col("o_orderkey") % 100 == 7)
        .withColumn("version", F.lit(1))
        .withColumn("deleted", F.lit(True))
    )

    feed_dir = tempfile.mkdtemp(prefix="stream_cdc_feed_")
    snap_dir = tempfile.mkdtemp(prefix="stream_cdc_snap_")
    # two change sets → ≥2 feed files; any file-to-batch split is correct
    # because the change keys are disjoint and carry explicit versions.
    updates.unionByName(deletes).repartition(2).write.mode("overwrite").parquet(
        feed_dir
    )
    base.write.mode("overwrite").parquet(f"{snap_dir}/v_base")
    state = {"latest": f"{snap_dir}/v_base"}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        cur = spark.read.parquet(state["latest"])
        merged = upsert_latest(cur, batch_df, ["o_orderkey"], "version")
        path = f"{snap_dir}/v{batch_id}"
        merged.write.mode("overwrite").parquet(path)
        state["latest"] = path

    feed = (
        spark.readStream.schema(_CDC_FEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(feed_dir)
    )
    q = (
        feed.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", f"{snap_dir}/_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    final = spark.read.parquet(state["latest"]).where(~F.col("deleted"))
    return final.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
    )


from platform_etl_drug_disease_spark.plans.lakehouse import _CDC_SQL

QUERIES["streaming_cdc_upsert"] = streaming_cdc_upsert
ORACLES["streaming_cdc_upsert"] = _CDC_SQL


def streaming_value_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming twin of the batch ``value_anomaly_stats``:
    per-user trailing-frame z-scores via applyInPandasWithState
    (streaming/windows.py:rolling_zscore_stream), rolled up per event type.
    Same oracle as the batch query — the decimal-exact parity contract
    makes stream == batch == DuckDB bit-for-bit."""
    from platform_etl_drug_disease_spark.plans._util import dround
    from platform_etl_drug_disease_spark.streaming.windows import (
        rolling_zscore_stream,
    )

    stream = _event_stream(spark, sf_dir)
    # NOT input-scaled: per-row Python state function (see
    # streaming_user_totals).
    scored = run_to_memory_sink(
        rolling_zscore_stream(stream), "cat_stream_zscore", output_mode="append"
    )
    return scored.groupBy("event_type").agg(
        F.count("z").alias("n_scored"),
        F.count(F.when(F.abs("z") > 2, 1)).alias("n_anomalies"),
        dround(F.max(F.abs("z")), 6).alias("max_abs_z"),
    )


QUERIES["streaming_value_anomaly"] = streaming_value_anomaly
ORACLES["streaming_value_anomaly"] = _ANOMALY_BATCH_SQL


def streaming_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming twin of the batch ``funnel_conversion``: per-user
    monotone funnel flags via applyInPandasWithState
    (streaming/windows.py:funnel_flags_stream), rolled up to the same
    3-stage output. Flags are monotone, so max() over every batch's
    emissions recovers the final per-user verdict. Same oracle as batch —
    stream == batch == DuckDB."""
    from platform_etl_drug_disease_spark.plans._util import dround
    from platform_etl_drug_disease_spark.streaming.windows import (
        funnel_flags_stream,
    )

    stream = _event_stream(spark, sf_dir).where(
        F.col("event_type").isin("view", "click", "purchase")
    )
    # NOT input-scaled: per-row Python state function (see
    # streaming_user_totals).
    flags = run_to_memory_sink(
        funnel_flags_stream(stream), "cat_stream_funnel", output_mode="append"
    )
    per_user = flags.groupBy("user_id").agg(
        F.max("reached_view").alias("r_view"),
        F.max("reached_click").alias("r_click"),
        F.max("reached_purchase").alias("r_purchase"),
    )
    totals = per_user.agg(
        F.count(F.when(F.col("r_view"), 1)).alias("n_view"),
        F.count(F.when(F.col("r_click"), 1)).alias("n_click"),
        F.count(F.when(F.col("r_purchase"), 1)).alias("n_purchase"),
    )
    stages = totals.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("stage"),
                    F.lit("view").alias("stage_name"),
                    F.col("n_view").alias("users"),
                    F.col("n_view").alias("prev_users"),
                ),
                F.struct(
                    F.lit(2).alias("stage"),
                    F.lit("click").alias("stage_name"),
                    F.col("n_click").alias("users"),
                    F.col("n_view").alias("prev_users"),
                ),
                F.struct(
                    F.lit(3).alias("stage"),
                    F.lit("purchase").alias("stage_name"),
                    F.col("n_purchase").alias("users"),
                    F.col("n_click").alias("prev_users"),
                ),
            )
        ).alias("s")
    )
    return stages.select(
        "s.stage",
        "s.stage_name",
        "s.users",
        dround(
            F.col("s.users")
            / F.nullif(F.col("s.prev_users").cast("double"), F.lit(0.0)),
            6,
        ).alias("conversion"),
    )


from platform_etl_drug_disease_spark.plans.events_time import (  # noqa: E402
    _FUNNEL_SQL as _FUNNEL_BATCH_SQL,
)

QUERIES["streaming_funnel_conversion"] = streaming_funnel_conversion
ORACLES["streaming_funnel_conversion"] = _FUNNEL_BATCH_SQL


def media_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary-payload dedup census: group media rows by content
    digest (never by the payload itself — the digest is 32 bytes, the
    payload unbounded; hashing first is what makes binary dedup a normal
    string groupBy at 100 TB) and report, per media kind: total rows,
    distinct payloads, redundant rows, and the bytes a dedup pass would
    reclaim. The recrawled-image/duplicate-clip audit of a multimodal
    corpus."""
    media = _media_table(spark, sf_dir)
    per_digest = (
        media.select(
            "kind",
            F.md5(F.col("payload")).alias("digest"),
            F.octet_length(F.col("payload")).alias("nbytes"),
        )
        .groupBy("kind", "digest")
        .agg(
            F.count(F.lit(1)).alias("copies"),
            F.max("nbytes").alias("nbytes"),
        )
    )
    return per_digest.groupBy("kind").agg(
        F.sum("copies").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct_payloads"),
        F.sum(F.col("copies") - 1).cast("bigint").alias("n_redundant"),
        F.sum((F.col("copies") - 1) * F.col("nbytes"))
        .cast("bigint")
        .alias("reclaimable_bytes"),
    )


_MEDIA_DEDUP_SQL = """
WITH per_digest AS (
    SELECT 'image' AS kind, md5(text) AS digest,
           CAST(count(*) AS BIGINT) AS copies,
           CAST(max(octet_length(encode(text))) AS BIGINT) AS nbytes
    FROM documents GROUP BY md5(text)
)
SELECT kind,
       CAST(SUM(copies) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct_payloads,
       CAST(SUM(copies - 1) AS BIGINT) AS n_redundant,
       CAST(SUM((copies - 1) * nbytes) AS BIGINT) AS reclaimable_bytes
FROM per_digest GROUP BY kind
"""

QUERIES["media_dedup_stats"] = media_dedup_stats
ORACLES["media_dedup_stats"] = _MEDIA_DEDUP_SQL
