"""Structured Streaming tests: file stream → interval-join/stateful
operators → memory sink (Trigger.AvailableNow), checked against the batch
equivalents — streaming and batch must produce the same tables."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.streaming.windows import (
    read_event_stream,
    run_to_memory_sink,
    running_user_totals,
)

EVENTS = [
    # user 1: two sessions (gap > 30 min between #2 and #3)
    (1, "2024-01-01T00:00:00", 1, "click", 1.0),
    (2, "2024-01-01T00:10:00", 1, "click", 2.0),
    (3, "2024-01-01T01:00:00", 1, "view", 3.0),
    # user 2: one session, two hours
    (4, "2024-01-01T00:05:00", 2, "view", 4.0),
    (5, "2024-01-01T01:30:00", 2, "click", 5.0),
]


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("eventstream")
    for i, (eid, ts, uid, etype, val) in enumerate(EVENTS):
        (d / f"part-{i}.json").write_text(
            json.dumps(
                {
                    "event_id": eid,
                    "ts": ts.replace("T", " "),
                    "user_id": uid,
                    "event_type": etype,
                    "value": val,
                    "props": "{}",
                }
            )
            + "\n"
        )
    return str(d)


def test_stream_stream_interval_join(spark, events_dir):
    from platform_etl_drug_disease_spark.streaming.windows import (
        stream_stream_interval_join,
    )

    stream = read_event_stream(spark, events_dir)
    clicks = stream.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    views = stream.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    joined = stream_stream_interval_join(
        clicks, views, key="user_id", left_ts="c_ts", right_ts="v_ts", within="1 hour"
    )
    got = run_to_memory_sink(joined, "ssjoin", output_mode="append")
    pairs = {(r["click_id"], r["view_id"]) for r in got.collect()}
    # user 1: clicks at 00:00 (#1) and 00:10 (#2), view at 01:00 (#3) —
    # both clicks within 1h before the view. user 2: view (#4) precedes the
    # click (#5), so no match.
    assert pairs == {(1, 3), (2, 3)}


def test_stateful_running_totals(spark, events_dir):
    # maxFilesPerTrigger=2 forces multiple micro-batches → state must carry
    # across batches; update-mode memory sink keeps the latest row per user.
    stream = read_event_stream(spark, events_dir, max_files_per_trigger=2)
    got = run_to_memory_sink(
        running_user_totals(stream), "user_totals", output_mode="update"
    )
    latest = (
        got.groupBy("user_id")
        .agg(
            F.max("total_events").alias("n"),
            F.max("total_value").alias("v"),
        )
        .collect()
    )
    final = {r["user_id"]: (r["n"], r["v"]) for r in latest}
    assert final == {1: (3, 6.0), 2: (2, 9.0)}


def test_write_batch_idempotent_crash_window_replay(spark, tmp_path):
    """Simulate the at-least-once crash window — the
    engine wrote batch N but died BEFORE committing the checkpoint, so on
    restart foreachBatch replays the same batch_id with a fresh DataFrame
    instance (possibly different partitioning/row order, same logical rows).
    The keyed overwrite must land the identical row set, not append."""
    from platform_etl_drug_disease_spark.streaming.windows import (
        write_batch_idempotent,
    )

    out = str(tmp_path / "landed")
    first = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["event_id", "payload"]
    )
    write_batch_idempotent(first, out, batch_id=7)
    before = sorted(spark.read.parquet(out).drop("batch_id").collect())

    # replay after the simulated crash: same batch_id, NEW df instance with
    # different partitioning and row order
    replay = spark.createDataFrame(
        [(3, "c"), (1, "a"), (2, "b")], ["event_id", "payload"]
    ).repartition(7)
    write_batch_idempotent(replay, out, batch_id=7)
    after_replay = sorted(spark.read.parquet(out).drop("batch_id").collect())
    assert after_replay == before, "replaying a batch must not change the landed set"

    # a genuinely new batch still lands additively under its own partition
    nxt = spark.createDataFrame([(4, "d")], ["event_id", "payload"])
    write_batch_idempotent(nxt, out, batch_id=8)
    landed = spark.read.parquet(out)
    assert landed.count() == 4
    assert set(r["batch_id"] for r in landed.select("batch_id").collect()) == {7, 8}


def test_event_stream_normalizes_both_ts_spellings(spark, tmp_path):
    """The catalog's file-stream source and the batch ``load_table`` must
    produce identical TIMESTAMP values whether events.ts is stored as
    TIMESTAMP(NANOS) or TIMESTAMP_MICROS (regenerated fixtures / DuckDB
    re-writes). A hardcoded nanos schema collapses hourly windows 1000×
    (10 rows instead of 3385) on the micros spelling, so both spellings and
    both readers are pinned here via the footer sniff
    (schemas.events_ts_unit). Every shipped sf dir stores micros, so this
    is the only place the nanos branch runs."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from platform_etl_drug_disease_spark.plans.streaming_media import (
        _event_stream,
    )
    from platform_etl_drug_disease_spark.schemas import events_ts_unit, load_table
    from platform_etl_drug_disease_spark.streaming.windows import (
        run_to_memory_sink,
    )

    ts = pd.to_datetime(["2024-01-01T00:00:00", "2024-01-01T02:30:00"])
    base = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([7, 7], pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.0, 2.0], pa.float64()),
        "props": pa.array(["{}", "{}"]),
    }
    results = {}
    for unit in ("ns", "us"):
        d = tmp_path / unit
        d.mkdir()
        tbl = pa.table({**base, "ts": pa.array(ts, pa.timestamp(unit))})
        pq.write_table(tbl, str(d / "events.parquet"), store_schema=False)
        assert events_ts_unit(str(d)) == unit
        out = run_to_memory_sink(
            _event_stream(spark, str(d)), f"ts_spelling_{unit}"
        )
        results[unit] = sorted(out.select("event_id", "ts").collect())
        batch = load_table(spark, str(d), "events", ["event_id", "ts"])
        assert dict(batch.dtypes)["ts"] == "timestamp"
        results[f"batch_{unit}"] = sorted(batch.collect())
    assert len(results["ns"]) == 2
    assert all(r == results["ns"] for r in results.values())


def test_streaming_cdc_upsert_matches_batch(spark):
    """Streaming merge (multi-batch file feed, foreachBatch latest-wins)
    converges to exactly the batch CDC census."""
    from platform_etl_drug_disease_spark.plans.lakehouse import cdc_upsert_stats
    from platform_etl_drug_disease_spark.plans.streaming_media import (
        streaming_cdc_upsert,
    )

    from tests.conftest import SF_SMOKE

    got = {
        r.status: (r.n_orders, round(r.total_price, 4))
        for r in streaming_cdc_upsert(spark, SF_SMOKE).collect()
    }
    want = {
        r.status: (r.n_orders, round(r.total_price, 4))
        for r in cdc_upsert_stats(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert "U" in got and got["U"][0] > 0


def test_streaming_zscore_equals_batch_per_event(spark):
    """The stateful streaming z-score must equal the batch window operator
    row-for-row (bit-for-bit doubles) — the decimal-exact parity contract
    of streaming/windows.py:rolling_zscore_stream."""
    from platform_etl_drug_disease_spark.operators.windows import rolling_zscore
    from platform_etl_drug_disease_spark.plans.streaming_media import (
        _event_stream,
    )
    from platform_etl_drug_disease_spark.schemas import load_table
    from platform_etl_drug_disease_spark.streaming.windows import (
        rolling_zscore_stream,
        run_to_memory_sink,
    )
    from tests.conftest import SF_SMOKE

    sf = SF_SMOKE
    got = {
        r.event_id: r.z
        for r in run_to_memory_sink(
            rolling_zscore_stream(_event_stream(spark, sf)),
            "t_stream_zscore",
            output_mode="append",
        ).collect()
    }
    ev = load_table(
        spark, sf, "events", ["event_id", "ts", "user_id", "event_type", "value"]
    )
    want = {
        r.event_id: r.z
        for r in rolling_zscore(
            ev, ["user_id"], ["ts", "event_id"], "value", 5
        ).collect()
    }
    assert set(got) == set(want)
    diffs = [k for k in want if got[k] != want[k]
             and not (got[k] is None and want[k] is None)]
    assert not diffs, f"{len(diffs)} mismatched events, e.g. {diffs[:3]}"
    assert any(z is not None for z in want.values())


def test_streaming_funnel_equals_batch_per_user(spark, tmp_path):
    """Streaming funnel flags must equal the batch funnel_flags verdicts
    per user, with state carried across micro-batches (maxFilesPerTrigger
    forces several) and monotone-flag recovery via max().

    The funnel parity contract requires per-key TIME-ORDERED arrival; the
    file source admits files by modification time, so this fixture pins
    each file's mtime to its event order (the shared events_dir fixture
    leaves all mtimes equal → arbitrary batch order)."""
    import os
    import time as _time

    from platform_etl_drug_disease_spark.operators.windows import funnel_flags
    from platform_etl_drug_disease_spark.streaming.windows import (
        funnel_flags_stream,
    )

    d = tmp_path / "funnelstream"
    d.mkdir()
    base = _time.time() - 1000
    for i, (eid, ts, uid, etype, val) in enumerate(EVENTS):
        f = d / f"part-{i}.json"
        f.write_text(
            json.dumps(
                {
                    "event_id": eid,
                    "ts": ts.replace("T", " "),
                    "user_id": uid,
                    "event_type": etype,
                    "value": val,
                    "props": "{}",
                }
            )
            + "\n"
        )
        os.utime(f, (base + i * 10, base + i * 10))

    stream = read_event_stream(spark, str(d), max_files_per_trigger=2)
    got_rows = run_to_memory_sink(
        funnel_flags_stream(stream), "t_stream_funnel", output_mode="append"
    )
    got = {
        r["user_id"]: (r["v"], r["c"], r["p"])
        for r in got_rows.groupBy("user_id")
        .agg(
            F.max("reached_view").alias("v"),
            F.max("reached_click").alias("c"),
            F.max("reached_purchase").alias("p"),
        )
        .collect()
    }
    batch_df = spark.createDataFrame(
        [(eid, ts.replace("T", " "), uid, etype) for eid, ts, uid, etype, _ in EVENTS],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))
    want = {
        r["user_id"]: (
            r["reached_view"],
            r["reached_click"],
            r["reached_purchase"],
        )
        for r in funnel_flags(
            batch_df,
            "user_id",
            ["ts", "event_id"],
            [
                ("view", F.col("event_type") == "view"),
                ("click", F.col("event_type") == "click"),
                ("purchase", F.col("event_type") == "purchase"),
            ],
        ).collect()
    }
    assert got == want


def test_stream_static_dimension_join(spark, events_dir):
    """Stream-static enrichment: a file stream joined to a static in-memory
    dimension (per-user tier) must produce the same enriched aggregate as
    the batch join — completing the join matrix next to the stream-stream
    interval join. The static side is broadcast per micro-batch; no state
    store involved."""
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "basic")], ["user_id", "tier"]
    )
    stream = read_event_stream(spark, events_dir, max_files_per_trigger=2)
    enriched = stream.join(F.broadcast(dim), "user_id").groupBy("tier").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")
    )
    got = {
        r["tier"]: (r["n"], r["v"])
        for r in run_to_memory_sink(
            enriched, "t_stream_static", output_mode="complete"
        ).collect()
    }
    assert got == {"gold": (3, 6.0), "basic": (2, 9.0)}


def test_streaming_containment_incremental_matches_batch(spark):
    """The containment family's streaming serve twin:
    the foreachBatch matcher over the %10 feed must produce EXACTLY the
    batch ``containment_incremental`` result — same (new_id, corpus_id)
    pairs, same exact-verified containment values. streaming == batch (the
    shared DuckDB oracle closes the triangle)."""
    from tests.conftest import SF_SMOKE

    from platform_etl_drug_disease_spark.plans.dedup_text import (
        containment_incremental,
    )
    from platform_etl_drug_disease_spark.plans.streaming_media import (
        streaming_containment_incremental,
    )

    batch = {
        (r["new_id"], r["corpus_id"]): r["containment"]
        for r in containment_incremental(spark, SF_SMOKE).collect()
    }
    stream = {
        (r["new_id"], r["corpus_id"]): r["containment"]
        for r in streaming_containment_incremental(spark, SF_SMOKE).collect()
    }
    assert stream == batch


@pytest.mark.parametrize("family", ["minhash", "containment"])
def test_multibatch_per_batch_parity(spark, family):
    """The streaming serve twins measured across REAL
    multiple micro-batches, not argued from a single AvailableNow drain.
    The staged 3-file feed + maxFilesPerTrigger=1 must fire >= 3
    foreachBatch invocations, every feed doc must land in exactly one
    batch, no matched new_id may appear under two batch_ids (state never
    bleeds across batches), and the union over batches must equal the
    batch twin exactly — which together imply each batch's output is the
    batch twin restricted to that batch's docs (matches are per-new-doc
    against the static corpus index)."""
    from tests.conftest import SF_SMOKE

    from platform_etl_drug_disease_spark.plans.dedup_text import (
        containment_incremental,
        dedup_incremental,
    )
    from platform_etl_drug_disease_spark.plans.streaming_media import (
        _containment_stream_run,
        _minhash_stream_run,
        _stage_feed,
    )

    feed_dir = _stage_feed(spark, SF_SMOKE, n_files=3)
    n_feed_docs = spark.read.parquet(feed_dir).count()
    batch_log: list = []
    if family == "minhash":
        run, batch_fn, val = _minhash_stream_run, dedup_incremental, "jaccard"
    else:
        run, batch_fn, val = (
            _containment_stream_run,
            containment_incremental,
            "containment",
        )
    df, out_dir = run(
        spark,
        SF_SMOKE,
        feed_dir=feed_dir,
        max_files_per_trigger=1,
        batch_log=batch_log,
    )

    # >= 3 real micro-batches, together draining the whole feed exactly once
    assert len(batch_log) >= 3
    assert sum(b["n_docs"] for b in batch_log) == n_feed_docs
    assert all(b["wall_s"] > 0 for b in batch_log)

    # no new_id under two batch_ids: per-batch state never bleeds
    with_batch = spark.read.parquet(out_dir).select("new_id", "batch_id")
    spread = (
        with_batch.groupBy("new_id")
        .agg(F.countDistinct("batch_id").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert spread == 0

    # union over batches == the batch twin, pairs and values
    stream = {(r["new_id"], r["corpus_id"]): r[val] for r in df.collect()}
    batch = {
        (r["new_id"], r["corpus_id"]): r[val]
        for r in batch_fn(spark, SF_SMOKE).collect()
    }
    assert stream == batch
