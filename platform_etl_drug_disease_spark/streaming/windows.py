"""Streaming operators the catalog's streaming queries run
(plans/streaming_media.py), and the JSON event source the streaming tests
drive them with.

Design rules for unbounded state at scale:
- the stream-stream join is watermarked on both sides, so its buffered state
  is bounded by watermark + interval, not stream history;
- the custom stateful operators (applyInPandasWithState) keep bounded state
  per key; the z-score and funnel operators reproduce their batch forms in
  operators/windows.py, so a batch backfill and the streaming path produce
  the same tables;
- micro-batches land through an idempotent per-batch_id write, so a crash
  replay overwrites instead of duplicating.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# DDL strings (not StructTypes): parsing DDL needs an active session, and
# every schema-accepting API below takes the string form directly.
EVENT_STREAM_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string,"
    " value double, props string"
)


def input_scaled_shuffle_partitions(
    spark: SparkSession,
    paths: list[str],
    bytes_per_partition: int = 8 << 20,
) -> int:
    """Shuffle/state partition count DERIVED FROM THE STREAM'S INPUT SIZE
    (optimization guide §2: partitioning should adapt to data volume, not
    be a constant tuned for either local mode or the cluster).

    Why it matters for streaming specifically: every stateful operator
    instantiates one state store PER shuffle partition (a stream-stream
    interval join holds FOUR), and each store pays a per-micro-batch
    open/commit/fsync constant regardless of how little state it holds.
    With the session default (= core count) a 2 MB event stream ran
    4 x 32 = 128 store instances whose bookkeeping dominated the wall
    (measured: the interval join 8.2 s -> 2.9 s at sf0.1 when the
    count follows the input). At production volumes the formula returns
    the configured ceiling, so a tuned cluster setting is never overridden
    upward or downward on real data.

    ``bytes_per_partition`` is on-disk parquet bytes; 8 MB of zstd/snappy
    parquet decodes to roughly 30-60 MB in memory, landing in the guide's
    recommended per-partition range. The result is clamped to
    [1, spark.sql.shuffle.partitions] — the session/cluster conf stays the
    authoritative upper bound.
    """
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    total = 0
    for p in paths:
        jpath = jvm.org.apache.hadoop.fs.Path(p)
        fs = jpath.getFileSystem(hconf)
        statuses = fs.globStatus(jpath)
        if statuses is None:
            continue
        for st in statuses:
            if st.isDirectory():
                it = fs.listFiles(st.getPath(), True)
                while it.hasNext():
                    total += it.next().getLen()
            else:
                total += st.getLen()
    ceiling = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(ceiling, -(-total // bytes_per_partition)))


class scoped_shuffle_partitions:
    """Context manager: set ``spark.sql.shuffle.partitions`` for the
    duration of one (streaming) query execution, restoring the previous
    value afterwards — the conf is session-global, and leaking a
    stream-sized setting into the next batch query would silently cap its
    parallelism."""

    def __init__(self, spark: SparkSession, n: int):
        self._spark = spark
        self._n = n
        self._key = "spark.sql.shuffle.partitions"
        self._old: str | None = None

    def __enter__(self):
        self._old = self._spark.conf.get(self._key)
        self._spark.conf.set(self._key, str(self._n))
        return self

    def __exit__(self, *exc):
        self._spark.conf.set(self._key, self._old)
        return False


def read_event_stream(
    spark: SparkSession, path: str, fmt: str = "json", max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based event stream with the explicit fixture schema (streaming
    sources never infer)."""
    reader = spark.readStream.schema(EVENT_STREAM_SCHEMA).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


RUNNING_TOTALS_SCHEMA = "user_id bigint, total_events bigint, total_value double"
_STATE_SCHEMA = "total_events bigint, total_value double"


def running_user_totals(stream: DataFrame, timeout_ms: int | None = None) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    event count + value total across micro-batches (the pattern for any
    operator Spark's built-in aggregations can't express).

    State is one tiny tuple per user; at scale the grouping key is the state
    shard key and Spark distributes/checkpoints it.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = 0, 0.0
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        if state.exists:
            old_n, old_total = state.get
            n += old_n
            total += old_total
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total_events": [n], "total_value": [total]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner equi-join with an event-time interval bound:
    right events within [left_ts, left_ts + within] of a matching key.

    Both sides are watermarked — with an interval condition Spark derives how
    long each side's rows must be buffered, so join state is bounded by
    (watermark + interval), not stream history. Inner joins emit matches as
    soon as both rows have arrived; the watermark only governs state cleanup.
    The key is the shuffle/state shard key at scale.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, "inner").drop(rw[key])


def write_batch_idempotent(batch_df: DataFrame, path: str, batch_id: int) -> None:
    """Idempotent micro-batch landing: each batch overwrites its own
    ``batch_id=<id>`` partition directory. foreachBatch alone is only
    at-least-once — a crash after a blind append but before the checkpoint
    commit would replay the batch and duplicate its rows on restart; keying
    the write by batch_id makes the replay overwrite the same files instead,
    restoring an exactly-once EFFECT. Readers see ``batch_id`` as a normal
    partition column (and can prune on it)."""
    batch_df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")


def run_to_memory_sink(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "append",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming plan over all currently-available data
    (Trigger.AvailableNow) into an in-memory table and return it as a batch
    DataFrame — the test/backfill harness path.

    ``shuffle_partitions`` (from :func:`input_scaled_shuffle_partitions`)
    scopes the state/shuffle partition count to THIS stream's execution;
    the previous session value is restored before returning, so the
    caller's post-stream batch rollup keeps full parallelism."""
    spark = stream_df.sparkSession

    def _run() -> None:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    if shuffle_partitions is not None:
        with scoped_shuffle_partitions(spark, shuffle_partitions):
            _run()
    else:
        _run()
    return spark.table(query_name)


ZSCORE_OUT_SCHEMA = "event_id bigint, event_type string, z double"
_ZSCORE_STATE_SCHEMA = "frame array<string>"
#: null-value marker inside the trailing frame (array<string> state keeps
#: exact decimal text; "" marks a row whose value was null).
_Z_NULL = ""


def _zscore_from_frame(frame: list[str], value, window_rows: int):
    """Score one value against its trailing frame, mirroring the batch
    operators/windows.py:rolling_zscore arithmetic BIT-FOR-BIT: values are
    quantized to decimal(18,6) (HALF_UP, same as Spark's double→decimal
    cast), summed exactly, converted once to double, then the identical
    IEEE expression tree. Returns None unless the frame has exactly
    ``window_rows`` non-null entries and positive variance."""
    import math
    from decimal import Decimal

    if value is None or (isinstance(value, float) and math.isnan(value)):
        return None
    vals = [Decimal(f) for f in frame if f != _Z_NULL]
    n = len(vals)
    if n != window_rows:
        return None
    s = float(sum(vals))
    ss = float(sum(v * v for v in vals))
    var = (ss - s * s / n) / (n - 1)
    if not var > 0:
        return None
    return (float(value) - s / n) / math.sqrt(var)


def quantize6(value) -> str:
    """Spark-compatible decimal(18,6) text of a double (HALF_UP on the
    exact binary expansion — what CAST(double AS DECIMAL(18,6)) does)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    if value is None or (isinstance(value, float) and math.isnan(value)):
        return _Z_NULL
    return str(Decimal(float(value)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def rolling_zscore_stream(stream: DataFrame, window_rows: int = 5) -> DataFrame:
    """Streaming twin of operators/windows.py:rolling_zscore: per-user
    one-step-ahead z-scores via applyInPandasWithState. State per key is the
    trailing ``window_rows`` values as exact decimal text — a few dozen
    bytes, checkpointed and sharded by the grouping key like every stateful
    op here.

    Parity contract (asserted in tests/test_streaming.py): given per-key
    event-time-ordered arrival — AvailableNow over time-ordered files, or
    any source whose per-key disorder never spans the trailing frame — the
    emitted scores equal the batch operator's bit-for-bit, because both
    sides quantize to decimal(18,6), sum exactly, and evaluate the same
    IEEE expression. Rows inside a micro-batch are explicitly re-sorted by
    (ts, event_id); cross-batch reordering is the source contract's job
    (at scale: watermark-delayed emission upstream)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        chunks = [pdf for pdf in pdfs if len(pdf)]
        frame: list[str] = list(state.get[0]) if state.exists else []
        if not chunks:
            state.update((frame,))
            yield pd.DataFrame(
                {"event_id": [], "event_type": [], "z": []}
            ).astype({"event_id": "int64", "event_type": "object", "z": "float64"})
            return
        rows = pd.concat(chunks).sort_values(["ts", "event_id"])
        out_id, out_type, out_z = [], [], []
        for r in rows.itertuples(index=False):
            v = r.value
            out_id.append(int(r.event_id))
            out_type.append(r.event_type)
            out_z.append(_zscore_from_frame(frame, v, window_rows))
            frame.append(quantize6(v))
            if len(frame) > window_rows:
                frame = frame[-window_rows:]
        state.update((frame,))
        yield pd.DataFrame(
            {"event_id": out_id, "event_type": out_type, "z": out_z}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=ZSCORE_OUT_SCHEMA,
        stateStructType=_ZSCORE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FUNNEL_OUT_SCHEMA = (
    "user_id bigint, reached_view boolean, reached_click boolean, "
    "reached_purchase boolean"
)


def funnel_flags_stream(stream: DataFrame) -> DataFrame:
    """Streaming twin of operators/windows.py:funnel_flags for the
    view→click→purchase funnel: per-user state is three monotone booleans,
    updated by replaying each micro-batch's rows in (ts, event_id) order —
    a click qualifies only if a view was seen STRICTLY earlier, a purchase
    only after a qualifying click, exactly the batch window semantics.

    After every batch the user's CURRENT flags are emitted (append mode);
    because the flags are monotone (never revert), the reader recovers the
    final per-user verdict with a plain max() aggregate over all emissions
    — no latest-wins bookkeeping needed. Same per-key ordered-arrival
    contract as rolling_zscore_stream; state is 3 booleans per user."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            r_view, r_click, r_purchase = state.get
        else:
            r_view = r_click = r_purchase = False
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            state.update((r_view, r_click, r_purchase))
            yield pd.DataFrame(
                {
                    "user_id": pd.Series([], dtype="int64"),
                    "reached_view": pd.Series([], dtype="bool"),
                    "reached_click": pd.Series([], dtype="bool"),
                    "reached_purchase": pd.Series([], dtype="bool"),
                }
            )
            return
        rows = pd.concat(chunks).sort_values(["ts", "event_id"])
        for r in rows.itertuples(index=False):
            t = r.event_type
            if t == "view":
                r_view = True
            elif t == "click":
                if r_view:
                    r_click = True
            elif t == "purchase":
                if r_click:
                    r_purchase = True
        state.update((r_view, r_click, r_purchase))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "reached_view": [r_view],
                "reached_click": [r_click],
                "reached_purchase": [r_purchase],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=FUNNEL_OUT_SCHEMA,
        stateStructType="v boolean, c boolean, p boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
