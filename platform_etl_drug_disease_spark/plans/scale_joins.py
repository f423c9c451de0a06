"""Scale-join catalog: the three join strategies that decide whether a
100-TB join is a full-network shuffle or (nearly) free, plus the custom
Python DataSource surface — each as an oracle-checked query.

- ``bucketed_join_revenue``: storage-layout co-location. Both sides are
  written as bucketed+sorted managed tables on the join key, so the
  sort-merge join needs NO Exchange and NO Sort — the per-bucket merge is
  local. This is the plan every *repeated* fact-fact join should run at
  100 TB (pay the layout once, join for free forever);
  tests/test_scale_joins.py pins the exchange-free plan shape.
- ``bloom_prune_revenue``: runtime semi-filter pruning. When the build
  side is selectively filtered but too big to broadcast as rows, its
  Bloom bitmap (8 KB at m=2^16, constant in key count) is broadcast
  instead and probe rows die inside their scan stage — the join shuffle
  only ever carries probable matches. Exactness is restored by the real
  join downstream, so the oracle is the plain join SQL.
- ``interval_dim_revenue``: point-in-interval (range) join. No equi-key
  exists, so the naive plan is a quadratic BroadcastNestedLoopJoin;
  bucketing the date axis restores an equi-key (interval → its ≤ L/b+1
  buckets, fact → 1 bucket) and the exploded dimension stays broadcast-
  sized — the fact table never shuffles.
- ``python_datasource_stats``: a genuinely partitioned custom Python
  DataSource (Spark 4 API) whose rows are a pure LCG function of the row
  id — the DuckDB oracle replays the identical relation from ``range()``,
  so even the beyond-parquet source surface is value-hash checked.

Reference scope note: the reference reads fixed JSON dumps and joins with
default planning only (sim.sc:340-380, one strategy for every join);
everything here is the missing scale surface documented in SURVEY.md §2.1
(S-ext) and §2.3 (J-ext).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.operators.intervals import point_in_interval_join
from platform_etl_drug_disease_spark.operators.sketches import bloom_prune
from platform_etl_drug_disease_spark.plans._util import dsum
from platform_etl_drug_disease_spark.schemas import load_table
from platform_etl_drug_disease_spark.sources.python_datasource import (
    register_synthetic_events,
)
from platform_etl_drug_disease_spark.sources.readers import read_csv
from platform_etl_drug_disease_spark.sources.writers import write_bucketed_table


def _sf_tag(sf_dir: str) -> str:
    return re.sub(r"\W", "_", os.path.basename(os.path.normpath(sf_dir)))


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free sort-merge join via bucketed storage (SURVEY §4 X9).

    Writes lineitem and orders bucketed+sorted on the order key (the
    pay-once layout step), then joins the managed tables with a merge
    hint: bucket layout satisfies the join's distribution AND ordering
    requirement, so the plan has no Exchange and no Sort under the join —
    at 100 TB the only network traffic left is the final 5-row aggregate.
    Overwrite mode + per-sf table names keep the query idempotent.
    """
    tag = _sf_tag(sf_dir)
    li = load_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_extendedprice", "l_discount"]
    )
    orders = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_orderpriority"])
    write_bucketed_table(
        li, f"bj_lineitem_{tag}", ["l_orderkey"], 8, sort_cols=["l_orderkey"]
    )
    write_bucketed_table(
        orders, f"bj_orders_{tag}", ["o_orderkey"], 8, sort_cols=["o_orderkey"]
    )
    t_li = spark.table(f"bj_lineitem_{tag}")
    t_or = spark.table(f"bj_orders_{tag}")
    joined = t_li.hint("merge").join(
        t_or, t_li.l_orderkey == t_or.o_orderkey, "inner"
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).alias("revenue"),
    )


_BUCKETED_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def bloom_prune_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning ahead of a big-big merge join.

    The build side (urgent finished orders, ~3% of orders) is hashed into
    an 8 KB bitmap; lineitem rows failing the membership test die inside
    the scan's codegen stage, so the sort-merge shuffle carries only
    probable matches (false-positive rate ≈ 2e-5 at sf0.1). The exact
    join then removes false positives — output is identical to the plain
    join, which is exactly what the oracle computes.
    """
    dim = load_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_orderstatus", "o_orderpriority"]
    ).where(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "F")
    )
    li = load_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"],
    )
    pruned = bloom_prune(li, "l_orderkey", dim, "o_orderkey")
    joined = pruned.hint("merge").join(
        dim.select("o_orderkey"), pruned.l_orderkey == F.col("o_orderkey"), "inner"
    )
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).alias("revenue"),
    )


_BLOOM_SQL = """
SELECT l_returnflag, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
GROUP BY l_returnflag
"""


def interval_dim_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join: orders against a validity-window dimension
    (one 45-day window per nation per year, deterministically derived so
    the oracle can rebuild it) without a BroadcastNestedLoopJoin.
    """
    nation = load_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    iv = (
        nation.select(
            "n_name",
            "n_nationkey",
            F.explode(F.sequence(F.lit(1993), F.lit(1997))).alias("y"),
        )
        .withColumn(
            "s", F.date_add(F.make_date(F.col("y"), F.lit(1), F.lit(1)), F.col("n_nationkey"))
        )
        .withColumn("e", F.date_add(F.col("s"), 44))
        .select("n_name", F.col("y").cast("int").alias("y"), "s", "e")
    )
    orders = load_table(spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"]).select(
        F.to_date("o_orderdate").alias("o_date"), "o_totalprice"
    )
    joined = point_in_interval_join(orders, iv, "o_date", "s", "e", bucket_days=16)
    return joined.groupBy("n_name", "y").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
    )


_INTERVAL_SQL = """
WITH iv AS (
    SELECT n_name, y,
           make_date(y, 1, 1) + n_nationkey AS s,
           make_date(y, 1, 1) + n_nationkey + 44 AS e
    FROM nation, (SELECT CAST(unnest(range(1993, 1998)) AS INTEGER) AS y)
)
SELECT n_name, y, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM iv JOIN orders ON CAST(o_orderdate AS DATE) BETWEEN s AND e
GROUP BY n_name, y
"""


def python_datasource_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over the custom partitioned Python DataSource (8 splits ×
    1250 LCG rows). ``sf_dir`` is unused — the relation is defined by the
    source itself, and the oracle replays it from ``range()``."""
    register_synthetic_events(spark)
    src = (
        spark.read.format("synthetic_events")
        .option("partitions", "8")
        .option("rowsPerPartition", "1250")
        .load()
    )
    return src.groupBy("category").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("value").alias("sum_value"),
    )


_DATASOURCE_SQL = """
WITH src AS (
    SELECT (1103515245 * r + 12345) % 2147483648 AS x
    FROM (SELECT unnest(range(0, 10000)) AS r)
)
SELECT 'c' || CAST(x % 7 AS VARCHAR) AS category,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(CAST(x % 10000 AS DOUBLE) / 100.0 AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM src GROUP BY category
"""


QUERIES = {
    "bucketed_join_revenue": bucketed_join_revenue,
    "bloom_prune_revenue": bloom_prune_revenue,
    "interval_dim_revenue": interval_dim_revenue,
    "python_datasource_stats": python_datasource_stats,
}

ORACLES = {
    "bucketed_join_revenue": _BUCKETED_SQL,
    "bloom_prune_revenue": _BLOOM_SQL,
    "interval_dim_revenue": _INTERVAL_SQL,
    "python_datasource_stats": _DATASOURCE_SQL,
}


def python_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource WRITER under the value-hash oracle:
    aggregate → write through the jsonl_dir task-commit protocol (temp
    files + driver-side atomic publish + _SUCCESS manifest) → read back
    with an explicit schema. A green row proves the commit protocol
    publishes exactly the task outputs, value-exactly (doubles survive via
    json.dumps shortest-round-trip, same as Spark's native JSON sink)."""
    from platform_etl_drug_disease_spark.sources.python_datasource import (
        register_jsonl_dir,
    )

    register_jsonl_dir(spark)
    agg = (
        load_table(spark, sf_dir, "orders", ["o_orderpriority", "o_totalprice"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )
    out = os.path.join("/tmp/spark_graft_pyds", _sf_tag(sf_dir))
    agg.repartition(2).write.format("jsonl_dir").mode("overwrite").save(out)
    return spark.read.schema(
        "o_orderpriority string, n_orders bigint, total_price double"
    ).json(out)


_PY_SINK_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM orders GROUP BY o_orderpriority
"""

QUERIES["python_sink_roundtrip"] = python_sink_roundtrip
ORACLES["python_sink_roundtrip"] = _PY_SINK_SQL


def partitioned_prune_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition-pruned read — the other
    half of the storage-layout story next to bucketing: orders land
    partitioned by o_orderstatus, and the filtered read back touches ONLY
    the matching directory (PartitionFilters in the scan, asserted in
    tests/test_scale_joins.py — at 100 TB this is the difference between
    scanning one partition and scanning the table). Output aggregates the
    pruned slice; the oracle filters the logical table directly."""
    orders = load_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_orderstatus", "o_totalprice"]
    )
    out = os.path.join("/tmp/spark_graft_part", _sf_tag(sf_dir))
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    back = spark.read.schema(
        "o_orderkey bigint, o_totalprice double, o_orderstatus string"
    ).parquet(out)
    pruned = back.where(F.col("o_orderstatus") == "F")
    return pruned.agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
        F.count_distinct(F.col("o_orderstatus")).alias("n_statuses"),
    )


_PART_PRUNE_SQL = """
SELECT COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price,
       COUNT(DISTINCT o_orderstatus) AS n_statuses
FROM orders WHERE o_orderstatus = 'F'
"""


def csv_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink/source under the value-hash oracle: the full write→read
    loop, read back through ``sources.readers.read_csv``. Doubles survive
    because Spark writes shortest-round-trip decimal text and the schema'd
    read parses it back to the same bits."""
    agg = (
        load_table(spark, sf_dir, "orders", ["o_orderstatus", "o_totalprice"])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )
    out = os.path.join("/tmp/spark_graft_csv", _sf_tag(sf_dir))
    agg.repartition(1).write.mode("overwrite").option("header", "true").csv(out)
    return read_csv(
        spark, out, "o_orderstatus string, n_orders bigint, total_price double"
    )


_CSV_SINK_SQL = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM orders GROUP BY o_orderstatus
"""

QUERIES["partitioned_prune_revenue"] = partitioned_prune_revenue
ORACLES["partitioned_prune_revenue"] = _PART_PRUNE_SQL
QUERIES["csv_sink_roundtrip"] = csv_sink_roundtrip
ORACLES["csv_sink_roundtrip"] = _CSV_SINK_SQL
