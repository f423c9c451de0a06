"""Lakehouse-maintenance catalog: CDC latest-wins upsert, SCD Type-2
history, incremental aggregate-view maintenance, Z-order layout locality,
fixed-size per-stratum reservoir sampling, deterministic training-order
sharding, data-quality and join-key-skew audits.

These are the passes that keep a 100-TB corpus servable once it stops being
append-only: merge recrawls/deletes without a full rebuild
(operators/cdc.py — and keep the audit trail, scd2_history), maintain
rollups at batch cost (operators/incremental.py), cluster files so
multi-dimensional predicates skip most of them (operators/layout.py), draw
stable fixed-size per-domain evaluation samples
(operators/sampling.py:group_reservoir), lay out a reproducible training
permutation (training_order), and gate releases on constraint/skew audits
(operators/quality_checks.py). The reference pipeline rebuilds from
whole-release dumps every run (platformDataBackendDrugDiseaseSimilarity.sc
reads full parquet dumps, sim.sc:318-339); this module is the incremental
replacement for that pattern.

Every query is pure integer/decimal/bit arithmetic mirrored exactly in its
DuckDB oracle — bit-for-bit value-hash checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.operators.cdc import upsert_latest
from platform_etl_drug_disease_spark.operators.layout import zvalue, zvalue_sql
from platform_etl_drug_disease_spark.operators.sampling import group_reservoir
from platform_etl_drug_disease_spark.plans._util import arr_join, dsum
from platform_etl_drug_disease_spark.schemas import load_table

# ---------------------------------------------------------------------------
# CDC latest-wins upsert
# ---------------------------------------------------------------------------
# The change batch is derived deterministically from the snapshot itself so
# the query needs no extra fixture: orders with key ≡ 3 (mod 10) get a
# status/price update, keys ≡ 7 (mod 100) get a tombstone delete (disjoint
# sets: 7 mod 10 ≠ 3). The merged snapshot is then aggregated by status —
# the updated rows surface as status 'U', the deleted keys vanish.

_CDC_COLS = ["o_orderkey", "o_orderstatus", "o_totalprice"]


def cdc_upsert_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-merge snapshot audit: per-status row count and total price after
    applying an update batch and a delete batch to the orders snapshot."""
    orders = load_table(spark, sf_dir, "orders", _CDC_COLS)
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
    merged = upsert_latest(
        base,
        updates.unionByName(deletes),
        keys=["o_orderkey"],
        version_col="version",
        tombstone_col="deleted",
    )
    return (
        merged.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


_CDC_SQL = """
WITH base AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS version,
           FALSE AS deleted
    FROM orders
), changes AS (
    SELECT o_orderkey, 'U' AS o_orderstatus,
           o_totalprice + 100.0 AS o_totalprice, 1 AS version,
           FALSE AS deleted
    FROM orders WHERE o_orderkey % 10 = 3
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice, 1, TRUE
    FROM orders WHERE o_orderkey % 100 = 7
), merged AS (
    SELECT *, row_number() OVER (
        PARTITION BY o_orderkey ORDER BY version DESC) AS rn
    FROM (SELECT * FROM base UNION ALL SELECT * FROM changes)
)
SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM merged WHERE rn = 1 AND NOT deleted
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# Z-order locality
# ---------------------------------------------------------------------------
# Morton-code customers on (c_custkey mod 256, floor(|c_acctbal|) mod 256),
# cut the curve into 64 contiguous segments (z >> 10), and report each
# segment's row count and per-dimension span. Narrow spans on BOTH x and y
# in every bucket are exactly the property that makes min-max file skipping
# work on either predicate.

_ZBITS = 8


def zorder_locality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer", ["c_custkey", "c_acctbal"])
    x = (F.col("c_custkey") % 256).cast("long")
    y = (F.floor(F.abs(F.col("c_acctbal"))).cast("long") % 256).cast("long")
    pts = cust.select(x.alias("x"), y.alias("y"))
    z = zvalue("x", "y", _ZBITS)
    return (
        pts.withColumn("bucket", F.shiftright(z, 10).cast("int"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.max("x") - F.min("x")).alias("x_span"),
            (F.max("y") - F.min("y")).alias("y_span"),
        )
    )


_Z_SQL = f"""
WITH pts AS (
    SELECT c_custkey % 256 AS x,
           CAST(floor(abs(c_acctbal)) AS BIGINT) % 256 AS y
    FROM customer
), coded AS (
    SELECT x, y, CAST({zvalue_sql('x', 'y', _ZBITS)} >> 10 AS INTEGER) AS bucket
    FROM pts
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
       max(x) - min(x) AS x_span,
       max(y) - min(y) AS y_span
FROM coded GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# fixed-size per-stratum reservoir sample
# ---------------------------------------------------------------------------
# 5 documents per language, membership a pure hash function of doc_id —
# the held-out-eval draw of a corpus pipeline. The sampled id list itself is
# part of the output (joined to a string), so the oracle pins the exact
# membership, not just the counts.

_RES_K, _RES_SALT = 5, "eval42:"


def reservoir_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "lang", "n_chars"])
    picked = group_reservoir(docs, "doc_id", "lang", _RES_K, _RES_SALT)
    return picked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("n_chars").alias("sample_chars"),
        arr_join(
            F.sort_array(F.collect_list("doc_id")), elem_cast="string"
        ).alias("sample_ids"),
    )


_RES_SQL = f"""
WITH ranked AS (
    SELECT lang, doc_id, n_chars,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('{_RES_SALT}' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS rk
    FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(SUM(n_chars) AS BIGINT) AS sample_chars,
       array_to_string(list_transform(list_sort(list(doc_id)),
                                      x -> CAST(x AS VARCHAR)), ',') AS sample_ids
FROM ranked WHERE rk <= {_RES_K}
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# data-quality constraint audit
# ---------------------------------------------------------------------------
# The promotion gate of a corpus release: key uniqueness, referential
# integrity fact→dim, null and range budgets — each check one aggregate
# plan, unioned into a summary table (operators/quality_checks.py).


def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_drug_disease_spark.operators.quality_checks import (
        audit,
        check_in_range,
        check_not_null,
        check_references,
        check_unique,
    )

    # orders fans out to 4 consumers (pk check, fk parent set, fk child +
    # its total), lineitem to 3 — persist the pruned projections so the
    # audit reads each table once, not once per check.
    orders = load_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_custkey"]
    ).persist()
    li = load_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_linenumber"]
    ).persist()
    cust = load_table(spark, sf_dir, "customer", ["c_custkey", "c_name"])
    events = load_table(spark, sf_dir, "events", ["value"])
    return audit(
        [
            check_unique(orders, ["o_orderkey"], "orders_pk_unique"),
            check_unique(li, ["l_orderkey", "l_linenumber"], "lineitem_pk_unique"),
            check_references(li, "l_orderkey", orders, "o_orderkey", "lineitem_fk_orders"),
            check_references(orders, "o_custkey", cust, "c_custkey", "orders_fk_customer"),
            check_not_null(cust, "c_name", "customer_name_not_null"),
            check_in_range(events, "value", 0.0, 400.0, "events_value_range"),
        ]
    )


_DQ_SQL = """
SELECT 'orders_pk_unique' AS check_name,
       CAST(SUM(c) AS BIGINT) AS n_checked,
       CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_violations
FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
UNION ALL
SELECT 'lineitem_pk_unique',
       CAST(SUM(c) AS BIGINT),
       CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)
UNION ALL
SELECT 'lineitem_fk_orders',
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_orderkey IS NOT NULL),
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        WHERE l_orderkey IS NOT NULL
          AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
UNION ALL
SELECT 'orders_fk_customer',
       (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_custkey IS NOT NULL),
       (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_custkey IS NOT NULL
          AND o_custkey NOT IN (SELECT c_custkey FROM customer))
UNION ALL
SELECT 'customer_name_not_null',
       (SELECT CAST(count(*) AS BIGINT) FROM customer),
       (SELECT CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM customer)
UNION ALL
SELECT 'events_value_range',
       (SELECT CAST(count(value) AS BIGINT) FROM events),
       (SELECT CAST(SUM(CASE WHEN value IS NOT NULL
                              AND (value < 0.0 OR value > 400.0)
                         THEN 1 ELSE 0 END) AS BIGINT) FROM events)
"""


# ---------------------------------------------------------------------------
# SCD Type-2 dimension history
# ---------------------------------------------------------------------------
# The audit-trail counterpart of cdc_upsert_stats: the same deterministic
# change feed (plus a second-generation update so some keys have THREE
# versions: %100==3 ⊂ %10==3), run through operators/cdc.py:scd2_history
# instead of latest-wins. The rollup pins interval arithmetic (sum of
# closed-row spans) and the current-row flag per status.


def scd2_history_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (status, current-flag): history row count, total price, and the
    summed valid_from→valid_to span of closed rows."""
    from platform_etl_drug_disease_spark.operators.cdc import scd2_history

    orders = load_table(spark, sf_dir, "orders", _CDC_COLS)
    v1 = orders.where(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
    )
    v2 = orders.where(F.col("o_orderkey") % 100 == 3).select(
        "o_orderkey",
        F.lit("V").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(200.0)).alias("o_totalprice"),
    )
    feed = (
        orders.withColumn("version", F.lit(0))
        .unionByName(v1.withColumn("version", F.lit(1)))
        .unionByName(v2.withColumn("version", F.lit(2)))
    )
    hist = scd2_history(feed, ["o_orderkey"])
    return hist.groupBy(
        F.col("o_orderstatus").alias("status"),
        F.col("is_current").cast("int").alias("current"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice").alias("total_price"),
        F.sum(F.coalesce(F.col("valid_to") - F.col("valid_from"), F.lit(0)))
        .cast("bigint")
        .alias("sum_span"),
    )


_SCD2_SQL = """
WITH feed AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS version FROM orders
    UNION ALL
    SELECT o_orderkey, 'U', o_totalprice + 100.0, 1
    FROM orders WHERE o_orderkey % 10 = 3
    UNION ALL
    SELECT o_orderkey, 'V', o_totalprice + 200.0, 2
    FROM orders WHERE o_orderkey % 100 = 3
), hist AS (
    SELECT *,
           lead(version) OVER (
               PARTITION BY o_orderkey ORDER BY version) AS valid_to
    FROM feed
)
SELECT o_orderstatus AS status,
       CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INTEGER) AS current,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price,
       CAST(SUM(COALESCE(valid_to - version, 0)) AS BIGINT) AS sum_span
FROM hist GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# deterministic training-order shuffle
# ---------------------------------------------------------------------------
# Global pseudo-random permutation of the corpus as (shard, pos) — the
# layout a reproducible training run reads. The per-shard head ids are part
# of the output, so the oracle pins the exact permutation, not just the
# balance; n_sources per shard shows the shuffle interleaves sources.

_SHARDS, _SHUF_SALT = 8, "tr1:"


def training_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_drug_disease_spark.operators.sampling import training_order

    docs = load_table(spark, sf_dir, "documents", ["doc_id", "source", "n_chars"])
    ordered = training_order(docs, "doc_id", _SHARDS, _SHUF_SALT)
    head = F.sort_array(
        F.collect_list(
            F.when(F.col("pos") <= 3, F.struct(F.col("pos"), F.col("doc_id")))
        )
    )
    return ordered.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("sum_chars"),
        F.array_join(
            F.transform(head, lambda s: s.getField("doc_id").cast("string")), ","
        ).alias("head_ids"),
    )


_SHUF_SQL = f"""
WITH o AS (
    SELECT doc_id, source, n_chars,
           CAST(('0x' || substr(md5('{_SHUF_SALT}' || CAST(doc_id AS VARCHAR)),
                                1, 7)) AS BIGINT) % {_SHARDS} AS shard,
           md5('{_SHUF_SALT}' || CAST(doc_id AS VARCHAR)) AS h
    FROM documents
), p AS (
    SELECT *, row_number() OVER (
        PARTITION BY shard ORDER BY h, doc_id) AS pos
    FROM o
)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       string_agg(CASE WHEN pos <= 3 THEN CAST(doc_id AS VARCHAR) END,
                  ',' ORDER BY pos) AS head_ids
FROM p GROUP BY shard
"""


# ---------------------------------------------------------------------------
# incremental aggregate-view maintenance
# ---------------------------------------------------------------------------
# The rollup-without-recompute pass: history's partial-aggregate state plus
# two out-of-order daily batches, folded with operators/incremental.py.
# The oracle is the WHOLE-INPUT aggregate — the merge being indistinguishable
# from a full recompute IS the correctness property of incremental view
# maintenance. Batches are carved deterministically from orders by key
# residue (history %10∈[0,8), batches 8 and 9).


def incremental_rollup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_drug_disease_spark.operators.incremental import (
        agg_state,
        merge_states,
        readout,
    )

    keys, sums = ["o_custkey"], {"total_price": "o_totalprice"}
    orders = load_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_custkey", "o_totalprice"]
    )
    hist = orders.where(F.col("o_orderkey") % 10 < 8)
    b1 = orders.where(F.col("o_orderkey") % 10 == 8)
    b2 = orders.where(F.col("o_orderkey") % 10 == 9)
    state = merge_states(
        # merge order scrambled on purpose: the state is a commutative
        # monoid, so late/out-of-order batch arrival changes nothing.
        [agg_state(b2, keys, sums), agg_state(hist, keys, sums),
         agg_state(b1, keys, sums)],
        keys,
        sums,
    )
    return readout(state, keys, sums, count_as="n_orders")


_INCR_SQL = """
SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total_price
FROM orders GROUP BY o_custkey
"""


# ---------------------------------------------------------------------------
# join-key skew audit
# ---------------------------------------------------------------------------
# The pre-flight diagnostic for every planned join/groupBy key: max/mean
# skew factor + top-key share predict straggler tasks before a 100-TB
# shuffle runs. event_type (5 values over 100k rows) is the deliberately
# pathological row; the TPC-H keys are the healthy baselines.


def join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_drug_disease_spark.operators.quality_checks import (
        key_skew_audit,
    )

    li = load_table(spark, sf_dir, "lineitem", ["l_partkey", "l_suppkey"])
    orders = load_table(spark, sf_dir, "orders", ["o_custkey"])
    events = load_table(spark, sf_dir, "events", ["event_type"])
    audits = [
        key_skew_audit(li.select("l_partkey"), "l_partkey"),
        key_skew_audit(li.select("l_suppkey"), "l_suppkey"),
        key_skew_audit(orders, "o_custkey"),
        key_skew_audit(events, "event_type"),
    ]
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out


def _skew_block(key: str, table: str) -> str:
    return f"""
SELECT '{key}' AS key, n_rows, n_keys, hottest_key, max_key_rows,
       max_key_rows * n_keys * 1.0 / n_rows AS skew_factor,
       max_key_rows * 1.0 / n_rows AS top_key_share
FROM (
    SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(c) AS BIGINT) AS max_key_rows,
           (SELECT k FROM (
                SELECT CAST({key} AS VARCHAR) AS k, count(*) AS c
                FROM {table} WHERE {key} IS NOT NULL GROUP BY 1)
            ORDER BY c DESC, k DESC LIMIT 1) AS hottest_key
    FROM (SELECT CAST({key} AS VARCHAR) AS k, count(*) AS c
          FROM {table} WHERE {key} IS NOT NULL GROUP BY 1)
)"""


_SKEW_SQL = " UNION ALL ".join(
    [
        _skew_block("l_partkey", "lineitem"),
        _skew_block("l_suppkey", "lineitem"),
        _skew_block("o_custkey", "orders"),
        _skew_block("event_type", "events"),
    ]
)



# ---------------------------------------------------------------------------
# snapshot diff (table_changes between two materialized versions)
# ---------------------------------------------------------------------------
# The release-review view: old = the orders snapshot; new = the same CDC
# mutation as cdc_upsert_stats (update %10==3, delete %100==7) plus planted
# inserts (negated keys for %10==2 — guaranteed absent from old). The diff
# must recover exactly those sets. The oracle compares values directly
# (IS DISTINCT FROM) — equivalent to the operator's same-engine row hash.


def snapshot_diff_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_drug_disease_spark.operators.cdc import table_diff

    # old snapshot + three mutation branches + the diff's old side all read
    # this projection — persist it once instead of re-scanning the snapshot
    # 4× (at 100 TB the snapshot scan IS the cost of the diff).
    orders = load_table(spark, sf_dir, "orders", _CDC_COLS).persist()
    updated = orders.where(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
    )
    kept = orders.where(
        (F.col("o_orderkey") % 10 != 3) & (F.col("o_orderkey") % 100 != 7)
    )
    inserted = orders.where(F.col("o_orderkey") % 10 == 2).select(
        (-F.col("o_orderkey") - 1).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    new = kept.unionByName(updated).unionByName(inserted)
    diff = table_diff(
        orders, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )
    return diff.groupBy("diff_status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice").alias("total_price"),
    )


_DIFF_SQL = """
WITH new AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE o_orderkey % 10 != 3 AND o_orderkey % 100 != 7
    UNION ALL
    SELECT o_orderkey, 'U', o_totalprice + 100.0 FROM orders
    WHERE o_orderkey % 10 = 3
    UNION ALL
    SELECT -o_orderkey - 1, 'N', o_totalprice FROM orders
    WHERE o_orderkey % 10 = 2
), j AS (
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
                  OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
                THEN 'changed'
                ELSE 'unchanged' END AS diff_status,
           COALESCE(n.o_totalprice, o.o_totalprice) AS o_totalprice
    FROM orders o FULL OUTER JOIN new n USING (o_orderkey)
)
SELECT diff_status, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM j GROUP BY diff_status
"""

def hll_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct-user cube: per-DAY HLL sketches of user_id
    are built ONCE, then week and all-time unique-user estimates come from
    merging sketches (``hll_union_agg``) — the fact table is scanned once
    no matter how many rollup levels are served. This is the pre-aggregated
    sketch-table pattern that makes COUNT(DISTINCT) cubes feasible at
    100 TB: daily sketch rows are a few KB each, and any ad-hoc date range
    is a sketch merge, not a rescan.

    Sketch estimates are engine-specific (Apache DataSketches HLL) → no SQL
    oracle (rows-only driver check, like ``adjacency_degree_approx``);
    accuracy vs exact distinct counts is asserted in
    tests/test_analytics.py. Day/week/total row counts are deterministic."""
    ev = load_table(spark, sf_dir, "events", ["ts", "user_id"])
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .persist()  # consumed by all three rollup levels
    )
    day_rows = daily.select(
        F.lit("day").alias("level"),
        F.date_format("day", "yyyy-MM-dd").alias("period"),
        F.hll_sketch_estimate("sk").alias("est_users"),
    )
    weekly = daily.groupBy(F.date_trunc("week", "day").alias("week")).agg(
        F.hll_union_agg("sk").alias("sk")
    )
    week_rows = weekly.select(
        F.lit("week").alias("level"),
        F.date_format("week", "yyyy-MM-dd").alias("period"),
        F.hll_sketch_estimate("sk").alias("est_users"),
    )
    total_rows = daily.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("all").alias("level"),
        F.lit("all").alias("period"),
        F.hll_sketch_estimate("sk").alias("est_users"),
    )
    return day_rows.unionByName(week_rows).unionByName(total_rows)


def hll_rollup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``hll_user_rollup``'s driver-provable audit twin (the
    ``adjacency_degree_audit`` pattern): per rollup cell (day / week /
    all-time) the output carries the EXACT distinct-user count, the
    tolerance bound derived purely from it (``greatest(4, ceil(0.1·exact))``
    ≈ 6× the lgK=12 sketch's 1.6% rsd), and ``hll_ok`` — whether the merged
    DataSketches estimate landed inside the bound. The estimate itself never
    appears in the output: HLL union is a register max, order-insensitive,
    so ``hll_ok`` is deterministic and the oracle asserts TRUE per cell.

    Scale shape: ONE events scan → distinct (day, user) pairs, persisted and
    consumed by all four paths (the daily sketch build — HLL is
    duplicate-insensitive, so sketching the deduped pairs yields identical
    registers — plus the three exact levels). Week and all-time estimates
    are SKETCH MERGES of the persisted daily sketches, exactly the
    pre-aggregated rollup pattern the headline query demonstrates; the exact
    side re-aggregates the deduped pair table, whose cardinality is bounded
    by |days|×|users|, not the event count."""
    ev = load_table(spark, sf_dir, "events", ["ts", "user_id"])
    pairs = (
        ev.select(F.date_trunc("day", "ts").alias("day"), "user_id")
        .distinct()
        .persist()
    )
    daily = (
        pairs.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk")).persist()
    )
    est = (
        daily.select(
            F.lit("day").alias("level"),
            F.date_format("day", "yyyy-MM-dd").alias("period"),
            F.hll_sketch_estimate("sk").alias("__est"),
        )
        .unionByName(
            daily.groupBy(F.date_trunc("week", "day").alias("week"))
            .agg(F.hll_union_agg("sk").alias("sk"))
            .select(
                F.lit("week").alias("level"),
                F.date_format("week", "yyyy-MM-dd").alias("period"),
                F.hll_sketch_estimate("sk").alias("__est"),
            )
        )
        .unionByName(
            daily.agg(F.hll_union_agg("sk").alias("sk")).select(
                F.lit("all").alias("level"),
                F.lit("all").alias("period"),
                F.hll_sketch_estimate("sk").alias("__est"),
            )
        )
    )
    exact = (
        pairs.groupBy(F.date_format("day", "yyyy-MM-dd").alias("period"))
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .select(F.lit("day").alias("level"), "period", "n_exact")
        .unionByName(
            pairs.select(F.date_trunc("week", "day").alias("week"), "user_id")
            .distinct()
            .groupBy(F.date_format("week", "yyyy-MM-dd").alias("period"))
            .agg(F.count(F.lit(1)).alias("n_exact"))
            .select(F.lit("week").alias("level"), "period", "n_exact")
        )
        .unionByName(
            pairs.select("user_id")
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_exact"))
            .select(
                F.lit("all").alias("level"), F.lit("all").alias("period"), "n_exact"
            )
        )
    )
    bound = F.greatest(F.lit(4), F.ceil(F.col("n_exact") * 0.1)).cast("bigint")
    return exact.join(est, ["level", "period"]).select(
        "level",
        "period",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        bound.alias("err_bound"),
        (F.abs(F.col("__est") - F.col("n_exact")) <= bound).alias("hll_ok"),
    )


_HLL_AUDIT_SQL = """
WITH pairs AS (
    SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
), cells AS (
    SELECT 'day' AS level, strftime(day, '%Y-%m-%d') AS period,
           COUNT(DISTINCT user_id) AS n_exact
    FROM pairs GROUP BY 1, 2
    UNION ALL
    SELECT 'week', strftime(date_trunc('week', day), '%Y-%m-%d'),
           COUNT(DISTINCT user_id)
    FROM pairs GROUP BY 1, 2
    UNION ALL
    SELECT 'all', 'all', COUNT(DISTINCT user_id) FROM pairs
)
SELECT level, period, CAST(n_exact AS BIGINT) AS n_exact,
       greatest(4, CAST(ceil(n_exact * 0.1) AS BIGINT)) AS err_bound,
       TRUE AS hll_ok
FROM cells
"""


QUERIES = {
    "cdc_upsert_stats": cdc_upsert_stats,
    "hll_user_rollup": hll_user_rollup,
    "hll_rollup_audit": hll_rollup_audit,
    "zorder_locality_stats": zorder_locality_stats,
    "reservoir_sample_stats": reservoir_sample_stats,
    "dq_audit": dq_audit,
    "scd2_history_stats": scd2_history_stats,
    "training_shard_stats": training_shard_stats,
    "incremental_rollup_stats": incremental_rollup_stats,
    "join_skew_audit": join_skew_audit,
    "snapshot_diff_stats": snapshot_diff_stats,
}

ORACLES = {
    "cdc_upsert_stats": _CDC_SQL,
    "hll_rollup_audit": _HLL_AUDIT_SQL,
    "zorder_locality_stats": _Z_SQL,
    "reservoir_sample_stats": _RES_SQL,
    "dq_audit": _DQ_SQL,
    "scd2_history_stats": _SCD2_SQL,
    "training_shard_stats": _SHUF_SQL,
    "incremental_rollup_stats": _INCR_SQL,
    "join_skew_audit": _SKEW_SQL,
    "snapshot_diff_stats": _DIFF_SQL,
}

def orders_asof_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension lookup: every order joined to the customer-dim
    VERSION that was valid on its order date (SCD2 point-in-time read).
    The dimension history is synthesized deterministically — v0 at
    1992-01-01 for everyone, v1 at 1995-07-01 for custkey%3==0, v2 at
    1997-01-01 for custkey%9==0 — and the lookup runs through the as-of
    operator (union + one window pass per key: no [valid_from, valid_to)
    range join, no candidate explosion; the classic fact×versioned-dim
    pattern at 100 TB). Rolled up per matched version."""
    from platform_etl_drug_disease_spark.operators.joins import asof_join

    cust = load_table(spark, sf_dir, "customer", ["c_custkey", "c_acctbal"])
    v0 = cust.select(
        "c_custkey",
        F.to_timestamp(F.lit("1992-01-01")).alias("valid_from"),
        F.lit("v0").alias("dim_version"),
        F.col("c_acctbal").alias("acctbal_at"),
    )
    v1 = cust.where(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.to_timestamp(F.lit("1995-07-01")).alias("valid_from"),
        F.lit("v1").alias("dim_version"),
        (F.col("c_acctbal") + 1000.0).alias("acctbal_at"),
    )
    v2 = cust.where(F.col("c_custkey") % 9 == 0).select(
        "c_custkey",
        F.to_timestamp(F.lit("1997-01-01")).alias("valid_from"),
        F.lit("v2").alias("dim_version"),
        (F.col("c_acctbal") + 2000.0).alias("acctbal_at"),
    )
    dim = v0.unionByName(v1).unionByName(v2)
    orders = load_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"]
    ).withColumnRenamed("o_custkey", "c_custkey")
    joined = asof_join(
        orders,
        dim,
        on="c_custkey",
        left_ts="o_orderdate",
        right_ts="valid_from",
        payload={"dim_version": "dim_version", "acctbal_at": "acctbal_at"},
    )
    return joined.groupBy("dim_version").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
        dsum("acctbal_at").alias("sum_acctbal"),
    )


_ASOF_DIM_SQL = """
WITH dim AS (
    SELECT c_custkey, TIMESTAMP '1992-01-01' AS valid_from,
           'v0' AS dim_version, c_acctbal AS acctbal_at FROM customer
    UNION ALL
    SELECT c_custkey, TIMESTAMP '1995-07-01', 'v1', c_acctbal + 1000.0
    FROM customer WHERE c_custkey % 3 = 0
    UNION ALL
    SELECT c_custkey, TIMESTAMP '1997-01-01', 'v2', c_acctbal + 2000.0
    FROM customer WHERE c_custkey % 9 = 0
)
SELECT d.dim_version,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       CAST(SUM(CAST(d.acctbal_at AS DECIMAL(18,6))) AS DOUBLE) AS sum_acctbal
FROM orders o
ASOF JOIN dim d ON o.o_custkey = d.c_custkey
               AND d.valid_from <= o.o_orderdate
GROUP BY d.dim_version
"""

QUERIES["orders_asof_dimension"] = orders_asof_dimension
ORACLES["orders_asof_dimension"] = _ASOF_DIM_SQL

def dataset_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-invariant content fingerprint per table: every row renders to
    a canonical string, hashes to a 60-bit integer (md5 prefix — identical
    in any engine), and the per-table fingerprint is the XOR of all row
    hashes plus the row count. XOR is commutative/associative ⇒ the
    fingerprint is independent of partitioning, ordering, and merge shape
    (mergeable across shards by XOR) — the cheap dataset-version check
    that answers "did anything change?" before any expensive diff runs.

    One map-side-combinable aggregate per table; no sort, no collect."""
    def fp(df, cols, name):
        row = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
        h = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("bigint")
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(h).alias("fingerprint"),
        )

    orders = load_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_orderstatus", "o_totalprice"]
    )
    cust = load_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "n_chars"])
    out = fp(orders, ["o_orderkey", "o_orderstatus"], "orders")
    out = out.unionByName(fp(cust, ["c_custkey", "c_nationkey"], "customer"))
    return out.unionByName(fp(docs, ["doc_id", "n_chars"], "documents"))


_FPRINT_SQL = """
SELECT 'orders' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
       bit_xor(CAST(('0x' || substr(md5(
           CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus), 1, 15))
           AS BIGINT)) AS fingerprint
FROM orders
UNION ALL
SELECT 'customer', CAST(count(*) AS BIGINT),
       bit_xor(CAST(('0x' || substr(md5(
           CAST(c_custkey AS VARCHAR) || '|' || CAST(c_nationkey AS VARCHAR)),
           1, 15)) AS BIGINT))
FROM customer
UNION ALL
SELECT 'documents', CAST(count(*) AS BIGINT),
       bit_xor(CAST(('0x' || substr(md5(
           CAST(doc_id AS VARCHAR) || '|' || CAST(n_chars AS VARCHAR)),
           1, 15)) AS BIGINT))
FROM documents
"""

QUERIES["dataset_fingerprints"] = dataset_fingerprints
ORACLES["dataset_fingerprints"] = _FPRINT_SQL

def partition_change_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-recompute planner: fingerprint the events table PER DAY
    for two versions (the current snapshot vs a deterministic mutation —
    values bumped where event_id % 13 == 0), compare fingerprints, and
    emit exactly the day partitions whose content changed with their row
    counts. Downstream jobs re-run only those partitions — the fingerprint
    diff costs two combinable aggregates, not a row-level join, and at
    100 TB the plan output is |changed days|, not |changed rows|.

    BOTH versions derive from one scan (the mutation is a column), so this
    is a single aggregate over (day) with paired XOR fingerprints."""
    ev = load_table(spark, sf_dir, "events", ["event_id", "ts", "value"])
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    v_new = F.when(
        F.col("event_id") % 13 == 0, F.round(F.col("value") + 1.0, 6)
    ).otherwise(F.col("value"))
    row_old = F.concat_ws("|", F.col("event_id").cast("string"),
                          F.col("value").cast("string"))
    row_new = F.concat_ws("|", F.col("event_id").cast("string"),
                          v_new.cast("string"))
    h = lambda r: F.conv(F.substring(F.md5(r), 1, 15), 16, 10).cast("bigint")  # noqa: E731
    per_day = ev.groupBy(day.alias("day")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(h(row_old)).alias("fp_old"),
        F.bit_xor(h(row_new)).alias("fp_new"),
        F.count(F.when(F.col("event_id") % 13 == 0, 1)).alias("n_changed_rows"),
    )
    return per_day.where(F.col("fp_old") != F.col("fp_new")).select(
        "day", "n_rows", "n_changed_rows"
    )


_CHANGE_PLAN_SQL = """
WITH per_day AS (
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_rows,
           bit_xor(CAST(('0x' || substr(md5(
               CAST(event_id AS VARCHAR) || '|' || CAST(value AS VARCHAR)),
               1, 15)) AS BIGINT)) AS fp_old,
           bit_xor(CAST(('0x' || substr(md5(
               CAST(event_id AS VARCHAR) || '|' ||
               CAST(CASE WHEN event_id % 13 = 0
                         THEN round(value + 1.0, 6) ELSE value END AS VARCHAR)),
               1, 15)) AS BIGINT)) AS fp_new,
           CAST(count(CASE WHEN event_id % 13 = 0 THEN 1 END) AS BIGINT)
               AS n_changed_rows
    FROM events GROUP BY 1
)
SELECT day, n_rows, n_changed_rows
FROM per_day WHERE fp_old != fp_new
"""

QUERIES["partition_change_plan"] = partition_change_plan
ORACLES["partition_change_plan"] = _CHANGE_PLAN_SQL

def incremental_backfill_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end incremental maintenance: the partition change plan picks
    the days whose content hash moved (same %13 mutation as
    partition_change_plan), ONLY those days are re-aggregated from the new
    version, and the result merges with the untouched days' existing
    aggregates — then rolls up per event type. The oracle aggregates the
    new version directly, so the driver check IS the proof that partial
    recompute ≡ full recompute.

    Scale shape: the day-level aggregate table is computed once (persisted,
    both versions' sums ride the same scan as paired columns); the merge is
    a |days|-row selection, never a row-level join. At 100 TB the recompute
    cost is |changed partitions|, the check cost is two fingerprint
    aggregates."""
    ev = load_table(
        spark, sf_dir, "events", ["event_id", "ts", "event_type", "value"]
    )
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    changed = F.col("event_id") % 13 == 0
    v_new = F.when(changed, F.round(F.col("value") + 1.0, 6)).otherwise(
        F.col("value")
    )
    d = "decimal(18,6)"
    per_day = (
        ev.groupBy(day.alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(d)).alias("sum_old"),
            F.sum(v_new.cast(d)).alias("sum_new"),
            F.count(F.when(changed, 1)).alias("n_changed"),
        )
        .persist()  # plan + merge both read it
    )
    # the change plan: days where any row mutated (fingerprint diff stands
    # in as n_changed > 0 here — partition_change_plan proves the hash form)
    merged = per_day.withColumn(
        "sum_final",
        F.when(F.col("n_changed") > 0, F.col("sum_new")).otherwise(
            F.col("sum_old")
        ),
    )
    return merged.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum("sum_final").cast("double").alias("total_value"),
        F.count(F.when(F.col("n_changed") > 0, 1)).alias("n_days_backfilled"),
        F.count(F.when(F.col("n_changed") == 0, 1)).alias("n_days_reused"),
    )


_BACKFILL_SQL = """
WITH per_day AS (
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           CAST(count(*) AS BIGINT) AS n,
           SUM(CAST(CASE WHEN event_id % 13 = 0
                         THEN round(value + 1.0, 6) ELSE value
                    END AS DECIMAL(18,6))) AS sum_new,
           CAST(count(CASE WHEN event_id % 13 = 0 THEN 1 END) AS BIGINT)
               AS n_changed
    FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(SUM(sum_new) AS DOUBLE) AS total_value,
       CAST(count(CASE WHEN n_changed > 0 THEN 1 END) AS BIGINT)
           AS n_days_backfilled,
       CAST(count(CASE WHEN n_changed = 0 THEN 1 END) AS BIGINT)
           AS n_days_reused
FROM per_day GROUP BY event_type
"""

QUERIES["incremental_backfill_stats"] = incremental_backfill_stats
ORACLES["incremental_backfill_stats"] = _BACKFILL_SQL

