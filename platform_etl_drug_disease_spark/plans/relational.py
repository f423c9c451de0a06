"""Relational core of the query catalog: scans, projections, filters, joins
(inner/left/right/semi/anti), aggregations, pivot, window top-n, set ops —
the SURVEY.md §2 families S1-S7, P1-P10, J1-J7, A1-A9, W1, U1-U2, O1-O3.

Every query has a DuckDB oracle (ORACLES) with bit-exact value agreement:
double sums go through the decimal detour (see plans/_util.py), folds run
over sorted arrays, and rankings carry unique tie-breakers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.functions.harmonic import harmonic_sum
from platform_etl_drug_disease_spark.operators.aggregates import (
    group_collect_set,
    grouped_top_k,
    pivot_scores,
)
from platform_etl_drug_disease_spark.operators.pandas_ops import grouped_zscore
from platform_etl_drug_disease_spark.operators.joins import (
    anti_join,
    join_on,
    salted_join,
    semi_join,
    symmetrize,
)
from platform_etl_drug_disease_spark.operators.windows import top_n_per_group
from platform_etl_drug_disease_spark.plans._util import arr_join, davg, dround, dsum
from platform_etl_drug_disease_spark.schemas import load_table


# ---------------------------------------------------------------------------
# flagship: association-scoring core on TPC-H-shaped data (SURVEY.md §7).
# lineitem⋈orders → per-part top-100 revenue scores → rank-weighted harmonic
# sum (the reference's scoring primitive, sim.sc:295-337).
# ---------------------------------------------------------------------------

def flagship_harmonic_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_partkey", "l_extendedprice", "l_discount"],
    )
    orders = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_orderstatus"]).where(
        F.col("o_orderstatus") == "F"
    )
    scored = join_on(li, orders, li.l_orderkey == orders.o_orderkey).select(
        "l_partkey",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("score"),
    )
    grouped = grouped_top_k(scored, ["l_partkey"], "score", k=100, out="scores")
    return grouped.select(
        "l_partkey",
        # dround, not round: built-in round() half-boundary behavior differs
        # between engines on doubles (see plans/_util.py:dround).
        dround(harmonic_sum("scores"), 4).alias("harmonic"),
        F.size("scores").alias("n_scores"),
    )


_FLAGSHIP_SQL = """
WITH scored AS (
    SELECT l_partkey, l_extendedprice * (1.0 - l_discount) AS score
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
), grouped AS (
    SELECT l_partkey, (list_sort(list(score), 'DESC'))[1:100] AS scores
    FROM scored GROUP BY l_partkey
)
SELECT l_partkey,
       floor(list_reduce(list_transform(scores, (x, i) -> x / (i * i)),
                         (a, b) -> a + b) * 10000.0 + 0.5) / 10000.0 AS harmonic,
       CAST(len(scores) AS INTEGER) AS n_scores
FROM grouped
"""


# ---------------------------------------------------------------------------
# pricing summary (TPC-H Q1 flavor): filter pushdown + multi-aggregate.
# ---------------------------------------------------------------------------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("2000-09-02"))
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# revenue by nation (TPC-H Q5 flavor): 6-way join with broadcast dims.
# ---------------------------------------------------------------------------

def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"],
    )
    orders = load_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_custkey", "o_orderdate"]
    ).where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1999-01-01")))
    )
    cust = load_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    supp = load_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"])
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")

    # local-supplier constraint: supplier and customer share the nation.
    j = (
        join_on(li, orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(supp), (F.col("l_suppkey") == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        j.groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("revenue"))
    )


_REVENUE_NATION_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# pivot (A7): returnflag → wide quantity matrix per linestatus, zero-filled.
# ---------------------------------------------------------------------------

def returnflag_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem", ["l_linestatus", "l_returnflag", "l_quantity"]
    )
    out = pivot_scores(
        li, ["l_linestatus"], "l_returnflag", ["A", "N", "R"], dsum("l_quantity"), fill=0.0
    )
    return (
        out.withColumnRenamed("A", "qty_a")
        .withColumnRenamed("N", "qty_n")
        .withColumnRenamed("R", "qty_r")
    )


_PIVOT_SQL = """
SELECT l_linestatus,
       COALESCE(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) FILTER (WHERE l_returnflag = 'A') AS DOUBLE), 0.0) AS qty_a,
       COALESCE(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) FILTER (WHERE l_returnflag = 'N') AS DOUBLE), 0.0) AS qty_n,
       COALESCE(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) FILTER (WHERE l_returnflag = 'R') AS DOUBLE), 0.0) AS qty_r
FROM lineitem
GROUP BY l_linestatus
"""


# ---------------------------------------------------------------------------
# outer joins (J3/J4) + carry-along first (A6).
# ---------------------------------------------------------------------------

def customer_order_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer", ["c_custkey", "c_name"])
    orders = load_table(spark, sf_dir, "orders", ["o_custkey", "o_orderkey", "o_totalprice"])
    j = join_on(cust, orders, cust.c_custkey == orders.o_custkey, how="left_outer")
    return j.groupBy("c_custkey").agg(
        F.first("c_name").alias("c_name"),  # constant within group (A6)
        F.count("o_orderkey").alias("order_count"),
        F.coalesce(dsum("o_totalprice"), F.lit(0.0)).alias("total_spent"),
    )


_CUSTOMER_LEFT_SQL = """
SELECT c_custkey,
       any_value(c_name) AS c_name,
       COUNT(o_orderkey) AS order_count,
       COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


def order_lineitem_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_linenumber"])
    orders = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_orderstatus"])
    j = join_on(li, orders, li.l_orderkey == orders.o_orderkey, how="right_outer")
    return j.groupBy("o_orderkey", "o_orderstatus").agg(
        F.count("l_linenumber").alias("line_count")
    )


_RIGHT_OUTER_SQL = """
SELECT o_orderkey, o_orderstatus, COUNT(l_linenumber) AS line_count
FROM lineitem RIGHT JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderkey, o_orderstatus
"""


def customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 semi-join: the idiomatic form of the reference's whitelist filter
    (sim.sc:451 uses an inner join purely for membership)."""
    cust = load_table(spark, sf_dir, "customer", ["c_custkey", "c_mktsegment"])
    orders = load_table(spark, sf_dir, "orders", ["o_custkey", "o_orderstatus"]).where(
        F.col("o_orderstatus") == "O"
    )
    return semi_join(cust, orders, cust.c_custkey == orders.o_custkey)


_SEMI_SQL = """
SELECT c_custkey, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer", ["c_custkey", "c_name", "c_acctbal"])
    orders = load_table(spark, sf_dir, "orders", ["o_custkey"])
    return anti_join(cust, orders, cust.c_custkey == orders.o_custkey)


_ANTI_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# ---------------------------------------------------------------------------
# window top-n (W1): richest 3 customers per nation, unique tie-break.
# ---------------------------------------------------------------------------

def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey", "c_acctbal"])
    return top_n_per_group(
        cust, ["c_nationkey"], [F.col("c_acctbal").desc(), F.col("c_custkey")], n=3
    )


_TOP_CUSTOMERS_SQL = """
SELECT c_custkey, c_nationkey, c_acctbal, CAST(rn AS INTEGER) AS rn
FROM (
    SELECT c_custkey, c_nationkey, c_acctbal,
           row_number() OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey) AS rn
    FROM customer
)
WHERE rn <= 3
"""


# ---------------------------------------------------------------------------
# set operations: U1 symmetrize+distinct, U2 unionByName.
# ---------------------------------------------------------------------------

def symmetric_trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1+A9: undirected edge canonicalization — the reference symmetrizes its
    protein-interaction edges and takes the distinct set (sim.sc:53-54); here
    ``joins.symmetrize`` emits both directions from one pass over the join."""
    li = load_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey"])
    orders = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey"])
    edges = (
        join_on(li, orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
    )
    return symmetrize(edges, "src", "dst").distinct()


_SYM_EDGES_SQL = """
SELECT DISTINCT src, dst FROM (
    SELECT o_custkey AS src, l_suppkey AS dst
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    UNION ALL
    SELECT l_suppkey AS src, o_custkey AS dst
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
"""


def order_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 unionByName: merge two differently-ordered projections by name
    (the reference merges evidence streams this way, sim.sc:431)."""
    orders = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_totalprice"])
    high = orders.where(F.col("o_totalprice") > 250000).select(
        F.col("o_orderkey"), F.col("o_totalprice").alias("val"), F.lit("high").alias("bucket")
    )
    low = orders.where(F.col("o_totalprice") <= 250000).select(
        F.lit("low").alias("bucket"), F.col("o_totalprice").alias("val"), F.col("o_orderkey")
    )
    merged = high.unionByName(low)
    return merged.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_orders"), dsum("val").alias("total_value")
    )


_UNION_BY_NAME_SQL = """
SELECT bucket, COUNT(*) AS n_orders,
       CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM (
    SELECT o_orderkey, o_totalprice AS val,
           CASE WHEN o_totalprice > 250000 THEN 'high' ELSE 'low' END AS bucket
    FROM orders
)
GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# grouped collections: A1 collect_set, A8 top-k arrays.
# ---------------------------------------------------------------------------

def segments_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer", ["c_nationkey", "c_mktsegment"])
    collected = group_collect_set(cust, ["c_nationkey"], "c_mktsegment", "segments")
    return collected.select("c_nationkey", arr_join("segments").alias("segments"))


_SEGMENTS_SQL = """
SELECT c_nationkey,
       array_to_string(list_sort(array_agg(DISTINCT c_mktsegment)), ',') AS segments
FROM customer GROUP BY c_nationkey
"""


def top_prices_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 (reference form): collect-then-sort-then-slice (sim.sc:297-298)."""
    li = load_table(spark, sf_dir, "lineitem", ["l_returnflag", "l_extendedprice"])
    topk = grouped_top_k(
        li, ["l_returnflag"], "l_extendedprice", k=5, out="top_prices", bounded=False
    )
    return topk.select(
        "l_returnflag", arr_join("top_prices", "decimal(18,2)").alias("top_prices")
    )


_TOP_PRICES_SQL = """
SELECT l_returnflag,
       array_to_string(list_transform((list_sort(list(l_extendedprice), 'DESC'))[1:5],
                                      x -> CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR)), ',') AS top_prices
FROM lineitem GROUP BY l_returnflag
"""


def segment_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 relational set ops (the array-granularity forms U4-U6 live in
    arrays_hof): customers holding BOTH open and finished orders (INTERSECT)
    minus automobile-segment ones (EXCEPT), tagged and re-unioned.

    Scale shape: INTERSECT/EXCEPT plan as aggregate-style shuffles on the
    full row — fine here on a single bigint key; for wide rows prefer
    semi/anti joins on the key column (customers_with_open_orders)."""
    orders = load_table(spark, sf_dir, "orders", ["o_custkey", "o_orderstatus"])
    cust = load_table(spark, sf_dir, "customer", ["c_custkey", "c_mktsegment"])
    open_ = orders.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    done = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    # checkpoint: the intersect result fans out to both output branches —
    # without it each branch recomputes it, scanning orders twice more.
    both = open_.intersect(done).localCheckpoint()
    auto = cust.where(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    return both.exceptAll(auto).withColumn("bucket", F.lit("both_not_auto")).unionByName(
        both.intersect(auto).withColumn("bucket", F.lit("both_auto"))
    )


_SET_ALGEBRA_SQL = """
WITH open_c AS (SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'),
done_c AS (SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'),
both_c AS (SELECT c_custkey FROM open_c INTERSECT SELECT c_custkey FROM done_c),
auto AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
SELECT c_custkey, 'both_not_auto' AS bucket
FROM (SELECT c_custkey FROM both_c EXCEPT ALL SELECT c_custkey FROM auto)
UNION ALL
SELECT c_custkey, 'both_auto' AS bucket
FROM (SELECT c_custkey FROM both_c INTERSECT SELECT c_custkey FROM auto)
"""


def order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP (status → priority) with grouping_id — subtotal
    rows materialize in ONE partial+final aggregation pass instead of a
    union of three groupBys (one scan, one shuffle at any scale)."""
    orders = load_table(
        spark, sf_dir, "orders", ["o_orderstatus", "o_orderpriority", "o_totalprice"]
    )
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
            F.grouping_id().alias("level"),
        )
    )


_ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS level
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def status_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (status, priority): all four grouping combinations in
    one shuffle (the GROUPING SETS superset of the ROLLUP query)."""
    orders = load_table(
        spark, sf_dir, "orders", ["o_orderstatus", "o_orderpriority", "o_totalprice"]
    )
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
        F.grouping_id().alias("level"),
    )


_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS level
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def salted_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted fact⋈dim join (operators/joins.py:salted_join):
    lineitem keys are salted into 8 sub-keys and the supplier dim is exploded
    across them, so one hot supplier key can never pin a single reducer. The
    oracle is the plain join — salting must be result-invariant."""
    li = load_table(spark, sf_dir, "lineitem", ["l_suppkey", "l_extendedprice"])
    sup = load_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"]).select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join(li, sup, "l_suppkey", salt_buckets=8)
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_extendedprice").alias("revenue"),
    )


_SALTED_SQL = """
SELECT s_nationkey, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
"""


def _price_flag_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(returnflag, extendedprice) lineitem value histogram — the one
    fact scan ``price_quantiles_per_flag``, ``tdigest_quantile_audit`` and
    ``price_mad_stats`` derive their rank arithmetic from. Value-GRID-
    bounded (~1 row per distinct (flag, cents) price); the
    window-consumes-an-aggregate property is pinned by
    tests/test_plan_quality.py::test_quantile_windows_consume_the_histogram."""
    from platform_etl_drug_disease_spark.operators.scans import value_histogram

    li = load_table(
        spark, sf_dir, "lineitem", ["l_returnflag", "l_extendedprice"]
    )
    return value_histogram(li, ["l_returnflag"], "l_extendedprice")


def price_quantiles_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles (p25/p50/p75) of l_extendedprice by return
    flag — ``quantile_disc`` semantics (the element at ceil(p·n) of the
    sorted values), engine-independent, no interpolation arithmetic.

    Scale shape: computed by rank arithmetic over the
    per-(flag, value) histogram — the element at position ceil(p·n) is the
    MIN value whose cumulative count reaches that position — so per-group
    state is bounded by the price GRID, not the group size. The former
    form collected each group into one sorted array (per-group memory grows
    with the group — the 100-TB failure mode; same rewrite family as
    price_mad_stats). The oracle deliberately keeps the naive sorted-array
    indexing, checking the rewrite's equivalence, and approx_percentile
    stays available as the sketch path (price_tdigest_quantiles)."""
    from platform_etl_drug_disease_spark.operators.scans import (
        quantiles_from_histogram,
    )

    hist = _price_flag_histogram(spark, sf_dir)
    return quantiles_from_histogram(
        hist,
        ["l_returnflag"],
        "l_extendedprice",
        {"p25": 0.25, "p50": 0.50, "p75": 0.75},
        mode="disc",
    )


_QUANTILES_SQL = """
WITH g AS (
    SELECT l_returnflag,
           list_sort(list(l_extendedprice)) AS xs,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       xs[CAST(greatest(1, ceil(n * 0.25)) AS BIGINT)] AS p25,
       xs[CAST(greatest(1, ceil(n * 0.50)) AS BIGINT)] AS p50,
       xs[CAST(greatest(1, ceil(n * 0.75)) AS BIGINT)] AS p75
FROM g
"""


def segment_acctbal_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Pandas path (applyInPandas): per-mktsegment population
    z-score of account balance, computed over exact scaled integers so the
    Arrow/Python stage is still deterministic and DuckDB-checkable
    (operators/pandas_ops.py:grouped_zscore)."""
    cust = load_table(spark, sf_dir, "customer", ["c_custkey", "c_mktsegment", "c_acctbal"])
    return grouped_zscore(cust, ["c_mktsegment"], "c_custkey", "c_acctbal")


_ZSCORE_SQL = """
WITH xs AS (
    SELECT c_custkey, c_mktsegment,
           CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 1000000 AS HUGEINT) AS xi
    FROM customer
), g AS (
    SELECT c_mktsegment, COUNT(*) AS n, SUM(xi) AS s, SUM(xi * xi) AS s2
    FROM xs GROUP BY 1
)
SELECT x.c_mktsegment, x.c_custkey,
       CASE WHEN g.n * g.s2 - g.s * g.s <= 0 THEN 0.0
            ELSE round(CAST(g.n * x.xi - g.s AS DOUBLE)
                       / sqrt(CAST(g.n * g.s2 - g.s * g.s AS DOUBLE)), 4)
       END AS zscore
FROM xs x JOIN g USING (c_mktsegment)
"""


def price_quantity_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation (df.stat.corr capability) per return flag, made
    engine-deterministic: moments are accumulated as exact integers (prices
    in cents, cast decimal(38,0)), r = (n·Σxy − ΣxΣy)/√((n·Σx²−(Σx)²)(n·Σy²−(Σy)²))
    with a single float conversion at the end — order-independent, no
    float-sum drift. ``corr()`` itself streams doubles and is not
    cross-engine comparable."""
    li = load_table(spark, sf_dir, "lineitem", ["l_returnflag", "l_extendedprice", "l_quantity"])
    d = "decimal(38,0)"
    xi = F.round(F.col("l_extendedprice") * 100).cast(d)
    yi = F.round(F.col("l_quantity")).cast(d)
    g = li.select("l_returnflag", xi.alias("x"), yi.alias("y")).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast(d).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")).cast("double")
    return g.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_items"),
        dround(num / F.sqrt(denx * deny), 6).alias("corr_price_qty"),
    )


_CORR_SQL = """
WITH m AS (
    SELECT l_returnflag,
           CAST(COUNT(*) AS HUGEINT) AS n,
           SUM(CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sx,
           SUM(CAST(round(l_quantity) AS HUGEINT)) AS sy,
           SUM(CAST(round(l_extendedprice * 100) AS HUGEINT)
               * CAST(round(l_quantity) AS HUGEINT)) AS sxy,
           SUM(CAST(round(l_extendedprice * 100) AS HUGEINT)
               * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sx2,
           SUM(CAST(round(l_quantity) AS HUGEINT)
               * CAST(round(l_quantity) AS HUGEINT)) AS sy2
    FROM lineitem GROUP BY 1
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_items,
       floor(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sx2 - sx * sx AS DOUBLE) * CAST(n * sy2 - sy * sy AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS corr_price_qty
FROM m
"""


def price_quantity_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped closed-form OLS (y = extendedprice regressed on x = quantity,
    per return flag): slope, intercept, R² from the same exact-integer
    moment accumulation as ``price_quantity_corr`` — the distributed-ML
    primitive for per-stratum trend fits (quality-vs-length, price-vs-size).

    Scale shape: ONE map-side-combinable aggregation — five decimal moment
    sums per group; no second pass, no collect, state O(groups). Every
    closed-form expression is a ratio of exact integers, so both engines do
    the identical int→double rounding once and divide — bit-stable. R² is
    (num/denx)·(num/deny) rather than num²/(denx·deny): the factored form
    avoids squaring a ~1e19 integer past decimal(38)/int128 range at big sf.
    """
    li = load_table(
        spark, sf_dir, "lineitem", ["l_returnflag", "l_extendedprice", "l_quantity"]
    )
    d = "decimal(38,0)"
    xi = F.round(F.col("l_quantity")).cast(d)
    yi = F.round(F.col("l_extendedprice") * 100).cast(d)
    g = (
        li.select("l_returnflag", xi.alias("x"), yi.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast(d).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sx2"),
            F.sum(F.col("y") * F.col("y")).alias("sy2"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")).cast("double")
    inum = (F.col("sy") * F.col("sx2") - F.col("sx") * F.col("sxy")).cast("double")
    return g.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_items"),
        dround(num / denx / F.lit(100.0), 6).alias("slope_price_per_qty"),
        dround(inum / denx / F.lit(100.0), 4).alias("intercept_price"),
        dround((num / denx) * (num / deny), 6).alias("r2"),
    )


_REGR_SQL = """
WITH m AS (
    SELECT l_returnflag,
           CAST(COUNT(*) AS HUGEINT) AS n,
           SUM(CAST(round(l_quantity) AS HUGEINT)) AS sx,
           SUM(CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sy,
           SUM(CAST(round(l_quantity) AS HUGEINT)
               * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sxy,
           SUM(CAST(round(l_quantity) AS HUGEINT)
               * CAST(round(l_quantity) AS HUGEINT)) AS sx2,
           SUM(CAST(round(l_extendedprice * 100) AS HUGEINT)
               * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sy2
    FROM lineitem GROUP BY 1
), r AS (
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_items,
           CAST(n * sxy - sx * sy AS DOUBLE) AS num,
           CAST(n * sx2 - sx * sx AS DOUBLE) AS denx,
           CAST(n * sy2 - sy * sy AS DOUBLE) AS deny,
           CAST(sy * sx2 - sx * sxy AS DOUBLE) AS inum
    FROM m
)
SELECT l_returnflag, n_items,
       floor(num / denx / 100.0 * 1e6 + 0.5) / 1e6 AS slope_price_per_qty,
       floor(inum / denx / 100.0 * 1e4 + 0.5) / 1e4 AS intercept_price,
       floor((num / denx) * (num / deny) * 1e6 + 0.5) / 1e6 AS r2
FROM r
"""


def price_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (t-digest-style sketch) per return flag — the
    bounded-state scale path for quantiles (the exact sorted-array form is
    price_quantiles_per_flag). Sketch internals are engine-specific →
    rows-only driver check; accuracy asserted vs exact in tests."""
    li = load_table(spark, sf_dir, "lineitem", ["l_returnflag", "l_extendedprice"])
    sketched = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", [0.25, 0.5, 0.75], 10000).alias("approx_pcts"),
        F.count(F.lit(1)).alias("n"),
    )
    return sketched.select(
        "l_returnflag",
        arr_join("approx_pcts", "decimal(18,2)").alias("approx_pcts"),
        "n",
    )


def tdigest_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``price_tdigest_quantiles``'s driver-provable audit twin (the
    ``adjacency_degree_audit`` pattern): the sketch estimate is
    engine-specific and never appears in the output — what does is the EXACT
    disc quantile at each p (an actual data element, bit-identical across
    engines) plus ``ok_p*`` booleans recording whether the sketch landed
    inside a deterministic rank bracket.

    Bracket: ``percentile_approx(accuracy=10000)`` guarantees the returned
    element's rank is within ``n/accuracy = 1e-4·n`` of ``p·n`` for ANY
    partition/merge order, so the value bracket
    ``[sorted[max(1, floor((p−2e-3)·n))], sorted[min(n, ceil((p+2e-3)·n))]]``
    (a 20× margin) contains it deterministically — the booleans are stable
    TRUE and the oracle asserts them as literals. Exact values and brackets
    come from ONE rank-arithmetic pass over the per-(flag, value) histogram
    (``operators/scans.py:value_histogram`` — grid-bounded state, the same
    machinery as ``price_quantiles_per_flag``); the sketch side is a second
    map-side-combinable aggregate over the fact scan. No per-group sorted
    arrays anywhere on the Spark side."""
    li = load_table(spark, sf_dir, "lineitem", ["l_returnflag", "l_extendedprice"])
    hist = _price_flag_histogram(spark, sf_dir)
    cum_w = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    n = hist.groupBy("l_returnflag").agg(F.sum("c").alias("__n"))
    h = hist.withColumn("__cum", F.sum("c").over(cum_w)).join(
        F.broadcast(n), ["l_returnflag"]
    )
    margin = 0.002
    aggs = [F.max("__n").cast("bigint").alias("n")]
    for label, p in (("p25", 0.25), ("p50", 0.50), ("p75", 0.75)):
        pos = F.greatest(F.lit(1), F.ceil(F.col("__n") * F.lit(p)))
        lo_pos = F.greatest(F.lit(1), F.floor(F.col("__n") * F.lit(p - margin)))
        hi_pos = F.least(F.col("__n"), F.ceil(F.col("__n") * F.lit(p + margin)))
        val = F.col("l_extendedprice")
        aggs.append(F.min(F.when(F.col("__cum") >= pos, val)).alias(label))
        aggs.append(F.min(F.when(F.col("__cum") >= lo_pos, val)).alias(f"__lo_{label}"))
        aggs.append(F.min(F.when(F.col("__cum") >= hi_pos, val)).alias(f"__hi_{label}"))
    exact = h.groupBy("l_returnflag").agg(*aggs)
    sk = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", [0.25, 0.5, 0.75], 10000).alias("__apx")
    )
    joined = exact.join(sk, "l_returnflag")
    oks = [
        (
            (F.col("__apx").getItem(i) >= F.col(f"__lo_{label}"))
            & (F.col("__apx").getItem(i) <= F.col(f"__hi_{label}"))
        ).alias(f"ok_{label}")
        for i, label in enumerate(("p25", "p50", "p75"))
    ]
    return joined.select("l_returnflag", "n", "p25", "p50", "p75", *oks)


_TDIGEST_AUDIT_SQL = """
WITH g AS (
    SELECT l_returnflag,
           list_sort(list(l_extendedprice)) AS xs,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       xs[CAST(greatest(1, ceil(n * 0.25)) AS BIGINT)] AS p25,
       xs[CAST(greatest(1, ceil(n * 0.50)) AS BIGINT)] AS p50,
       xs[CAST(greatest(1, ceil(n * 0.75)) AS BIGINT)] AS p75,
       TRUE AS ok_p25, TRUE AS ok_p50, TRUE AS ok_p75
FROM g
"""


def quantity_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt — the wide→long inverse of the A7 pivot, via the native
    ``DataFrame.unpivot`` (no per-column union scan of the source: one pass
    emits all measure rows). Re-melts the pivoted quantity matrix."""
    wide = returnflag_pivot(spark, sf_dir)
    return wide.unpivot(
        ids=["l_linestatus"],
        values=["qty_a", "qty_n", "qty_r"],
        variableColumnName="flag_col",
        valueColumnName="qty",
    )


_UNPIVOT_SQL = """
WITH wide AS (
    SELECT l_linestatus,
           COALESCE(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) FILTER (WHERE l_returnflag = 'A') AS DOUBLE), 0.0) AS qty_a,
           COALESCE(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) FILTER (WHERE l_returnflag = 'N') AS DOUBLE), 0.0) AS qty_n,
           COALESCE(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) FILTER (WHERE l_returnflag = 'R') AS DOUBLE), 0.0) AS qty_r
    FROM lineitem GROUP BY l_linestatus
)
SELECT l_linestatus, 'qty_a' AS flag_col, qty_a AS qty FROM wide
UNION ALL
SELECT l_linestatus, 'qty_n' AS flag_col, qty_n AS qty FROM wide
UNION ALL
SELECT l_linestatus, 'qty_r' AS flag_col, qty_r AS qty FROM wide
"""


QUERIES = {
    "flagship_harmonic_topk": flagship_harmonic_topk,
    "quantity_unpivot": quantity_unpivot,
    "price_quantity_corr": price_quantity_corr,
    "price_quantity_regression": price_quantity_regression,
    "price_tdigest_quantiles": price_tdigest_quantiles,
    "tdigest_quantile_audit": tdigest_quantile_audit,
    "segment_acctbal_zscore": segment_acctbal_zscore,
    "pricing_summary": pricing_summary,
    "revenue_by_nation": revenue_by_nation,
    "returnflag_pivot": returnflag_pivot,
    "customer_order_left": customer_order_left,
    "order_lineitem_right": order_lineitem_right,
    "customers_with_open_orders": customers_with_open_orders,
    "customers_without_orders": customers_without_orders,
    "top_customers_per_nation": top_customers_per_nation,
    "symmetric_trade_edges": symmetric_trade_edges,
    "order_value_buckets": order_value_buckets,
    "segments_per_nation": segments_per_nation,
    "top_prices_per_flag": top_prices_per_flag,
    "segment_set_algebra": segment_set_algebra,
    "order_priority_rollup": order_priority_rollup,
    "status_priority_cube": status_priority_cube,
    "salted_supplier_revenue": salted_supplier_revenue,
    "price_quantiles_per_flag": price_quantiles_per_flag,
}

ORACLES = {
    "flagship_harmonic_topk": _FLAGSHIP_SQL,
    "tdigest_quantile_audit": _TDIGEST_AUDIT_SQL,
    "quantity_unpivot": _UNPIVOT_SQL,
    "price_quantity_corr": _CORR_SQL,
    "price_quantity_regression": _REGR_SQL,
    "segment_acctbal_zscore": _ZSCORE_SQL,
    "pricing_summary": _PRICING_SQL,
    "revenue_by_nation": _REVENUE_NATION_SQL,
    "returnflag_pivot": _PIVOT_SQL,
    "customer_order_left": _CUSTOMER_LEFT_SQL,
    "order_lineitem_right": _RIGHT_OUTER_SQL,
    "customers_with_open_orders": _SEMI_SQL,
    "customers_without_orders": _ANTI_SQL,
    "top_customers_per_nation": _TOP_CUSTOMERS_SQL,
    "symmetric_trade_edges": _SYM_EDGES_SQL,
    "order_value_buckets": _UNION_BY_NAME_SQL,
    "segments_per_nation": _SEGMENTS_SQL,
    "top_prices_per_flag": _TOP_PRICES_SQL,
    "segment_set_algebra": _SET_ALGEBRA_SQL,
    "order_priority_rollup": _ROLLUP_SQL,
    "status_priority_cube": _CUBE_SQL,
    "salted_supplier_revenue": _SALTED_SQL,
    "price_quantiles_per_flag": _QUANTILES_SQL,
}

def revenue_gini_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration audit: the exact Gini coefficient of customer
    order revenue within each nation — G = (2·Σ iᐧxᵢ)/(n·Σx) − (n+1)/n over
    revenues x sorted ascending (ties broken by customer key). High Gini →
    a nation's revenue hangs on few whales; the skew early-warning for
    per-nation budget decisions.

    Scale shape: revenue reduces to ONE row per customer first, so the
    rank window sorts |customers-per-nation| rows per stratum, not orders;
    revenues rank as exact integer cents and every moment (Σx, Σi·x) is an
    exact decimal — one final double division. Strata too large to sort
    take the binned-Lorenz approximation (same downstream formula over
    t-digest bins); the exact per-stratum form is the oracle-checkable one.
    """
    orders = load_table(spark, sf_dir, "orders", ["o_custkey", "o_totalprice"])
    cust = load_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    d = "decimal(38,0)"
    rev = (
        orders.groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast(d)).alias("cents"))
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_nationkey", "o_custkey", "cents")
    )
    w = Window.partitionBy("c_nationkey").orderBy("cents", "o_custkey")
    ranked = rev.withColumn("i", F.row_number().over(w).cast(d))
    g = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast(d).alias("n"),
        F.sum("cents").alias("sx"),
        F.sum(F.col("i") * F.col("cents")).alias("six"),
    )
    two_six = (F.lit(2).cast("decimal(38,0)") * F.col("six")).cast("double")
    gini = two_six / (F.col("n") * F.col("sx")).cast("double") - (
        (F.col("n") + F.lit(1)).cast("double") / F.col("n").cast("double")
    )
    return g.select(
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.col("n").cast("bigint").alias("n_customers"),
        dround(gini, 6).alias("gini"),
    )


_GINI_SQL = """
WITH rev AS (
    SELECT c_nationkey, o_custkey,
           SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey, o_custkey
), ranked AS (
    SELECT *, CAST(row_number() OVER (PARTITION BY c_nationkey
                   ORDER BY cents, o_custkey) AS HUGEINT) AS i
    FROM rev
), g AS (
    SELECT c_nationkey, CAST(count(*) AS HUGEINT) AS n,
           SUM(cents) AS sx, SUM(i * cents) AS six
    FROM ranked GROUP BY c_nationkey
)
SELECT CAST(c_nationkey AS INTEGER) AS nationkey,
       CAST(n AS BIGINT) AS n_customers,
       floor((CAST(2 * six AS DOUBLE) / CAST(n * sx AS DOUBLE)
              - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6 + 0.5) / 1e6
           AS gini
FROM g
"""


def regional_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical percent-of-parent report: each nation's order revenue
    with its share of the region and of the world — the drill-down BI
    staple. Revenue reduces per nation first (exact cents), so every share
    is a ratio of exact integers computed on the 25-row aggregate; region
    and world totals come from windows over that tiny table."""
    orders = load_table(spark, sf_dir, "orders", ["o_custkey", "o_totalprice"])
    cust = load_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    nation = load_table(spark, sf_dir, "nation")
    d = "decimal(38,0)"
    per_nation = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "n_regionkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast(d)).alias("cents"))
    )
    wr = Window.partitionBy("n_regionkey")
    ww = Window.partitionBy()
    return per_nation.select(
        "n_name",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        dround(
            F.col("cents").cast("double") / F.sum("cents").over(wr).cast("double"),
            6,
        ).alias("share_of_region"),
        dround(
            F.col("cents").cast("double") / F.sum("cents").over(ww).cast("double"),
            6,
        ).alias("share_of_world"),
    )


_REGION_SHARE_SQL = """
WITH per_nation AS (
    SELECT n_name, n_regionkey,
           SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS cents
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name, n_regionkey
)
SELECT n_name,
       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       floor(CAST(cents AS DOUBLE)
             / CAST(SUM(cents) OVER (PARTITION BY n_regionkey) AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS share_of_region,
       floor(CAST(cents AS DOUBLE)
             / CAST(SUM(cents) OVER () AS DOUBLE) * 1e6 + 0.5) / 1e6
           AS share_of_world
FROM per_nation
"""

QUERIES["revenue_gini_per_nation"] = revenue_gini_per_nation
ORACLES["revenue_gini_per_nation"] = _GINI_SQL
QUERIES["regional_revenue_share"] = regional_revenue_share
ORACLES["regional_revenue_share"] = _REGION_SHARE_SQL

def monthly_revenue_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue report: per month, total revenue (exact
    cents), percent change vs the previous month, and the trailing 3-month
    moving average — the standard finance/reporting view. The fact table
    reduces to one row per month first; every window (lag, trailing avg)
    runs over that ~80-row series, so the single-partition window is a
    non-issue by construction."""
    orders = load_table(spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"])
    d = "decimal(38,0)"
    monthly = (
        orders.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "month"
            )
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast(d)).alias("cents"))
    )
    w = Window.partitionBy().orderBy("month")
    w3 = w.rowsBetween(-2, 0)
    prev = F.lag("cents", 1).over(w)
    return monthly.select(
        "month",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        # shifted +100 before dround: MoM change can be negative and raw
        # round() half-boundaries differ between engines (plans/_util.dround
        # is floor-based, non-negative-only); revenue>0 ⇒ pct > −100.
        dround(
            (F.col("cents") - prev).cast("double") / prev.cast("double") * 100.0
            + F.lit(100.0),
            6,
        ).alias("mom_pct_p100"),
        (
            (F.sum("cents").over(w3)).cast("double")
            / F.count("cents").over(w3).cast("double")
            / 100.0
        ).alias("avg_3m"),
    )


_MOMENTUM_SQL = """
WITH monthly AS (
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS cents
    FROM orders GROUP BY 1
)
SELECT month,
       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       floor((CAST(cents - lag(cents) OVER w AS DOUBLE)
              / CAST(lag(cents) OVER w AS DOUBLE) * 100.0 + 100.0)
             * 1e6 + 0.5) / 1e6 AS mom_pct_p100,
       CAST(SUM(cents) OVER w3 AS DOUBLE)
           / CAST(count(cents) OVER w3 AS DOUBLE) / 100.0 AS avg_3m
FROM monthly
WINDOW w AS (ORDER BY month),
       w3 AS (ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""

QUERIES["monthly_revenue_momentum"] = monthly_revenue_momentum
ORACLES["monthly_revenue_momentum"] = _MOMENTUM_SQL

def ship_leadtime_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead-time distribution: days between order date and
    line shipment, binned weekly, with counts and the cumulative share —
    the SLA view of the fulfilment pipeline. The fact join reduces straight
    into the ~20-row histogram; the cumulative share is a window over it."""
    li = load_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_shipdate"])
    orders = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_orderdate"])
    days = F.datediff("l_shipdate", "o_orderdate")
    binned = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select((F.floor(days / 7)).cast("bigint").alias("week_bucket"))
        .groupBy("week_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy().orderBy("week_bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy()
    return binned.select(
        "week_bucket",
        "n",
        dround(
            F.sum("n").over(w).cast("double") / F.sum("n").over(tot).cast("double"),
            6,
        ).alias("cum_share"),
    )


_LEADTIME_SQL = """
WITH binned AS (
    SELECT CAST(floor(datediff('day', o_orderdate, l_shipdate) / 7) AS BIGINT)
               AS week_bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
)
SELECT week_bucket, n,
       floor(CAST(SUM(n) OVER (ORDER BY week_bucket ROWS UNBOUNDED PRECEDING)
                  AS DOUBLE)
             / CAST(SUM(n) OVER () AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cum_share
FROM binned
"""

QUERIES["ship_leadtime_histogram"] = ship_leadtime_histogram
ORACLES["ship_leadtime_histogram"] = _LEADTIME_SQL

# the portable ANSI core shared verbatim by Spark SQL and the DuckDB oracle
_PORTABLE_REVENUE_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY n_name
"""


def sql_text_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 made literal: the exact same ANSI SQL TEXT runs on Spark
    (``spark.sql`` over temp views) and on DuckDB (the oracle) — one
    portable dialect, two engines, identical value hashes. This is the
    SQL-first user surface: register views once, submit query strings, let
    Catalyst plan them with the same pushdown/broadcast treatment as the
    DataFrame API (the plan is checked by the same lint)."""
    for t in ("lineitem", "orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_PORTABLE_REVENUE_SQL)


QUERIES["sql_text_revenue"] = sql_text_revenue
ORACLES["sql_text_revenue"] = _PORTABLE_REVENUE_SQL

def part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D SKYLINE (Pareto frontier) per brand: parts not dominated on
    (cheaper price, larger size) by any other part of the same brand —
    "best value" shortlisting, the multi-criteria cousin of top-k. The 2-D
    staircase algorithm: sort by price ascending (key tiebreak), keep rows
    whose size strictly exceeds the running max of all cheaper rows —
    O(n log n) with ONE window pass, versus the naive NOT EXISTS
    dominance anti-join's O(n²) pair work. Brand partitioning keeps each
    sort per-stratum; an unpartitioned global skyline at 100 TB uses
    range-partition + broadcast prefix-max with identical semantics.
    Ties on price: a row is dominated only by STRICTLY cheaper rows, so
    the running max excludes the current price group (range frame)."""
    parts = load_table(
        spark, sf_dir, "part",
        ["p_partkey", "p_brand", "p_size", "p_retailprice"],
    )
    cents = F.round(F.col("p_retailprice") * 100).cast("long")
    w = (
        Window.partitionBy("p_brand")
        .orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    staged = parts.select(
        "p_partkey", "p_brand", "p_size", cents.alias("price_c")
    ).withColumn("max_size_cheaper", F.max("p_size").over(w))
    sky = staged.where(
        F.col("max_size_cheaper").isNull()
        | (F.col("p_size") > F.col("max_size_cheaper"))
    )
    return sky.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_skyline"),
        F.min("price_c").alias("cheapest_c"),
        F.max("p_size").alias("max_size"),
        arr_join(
            F.sort_array(F.collect_list("p_partkey")), elem_cast="string"
        ).alias("skyline_parts"),
    )


_SKYLINE_SQL = """
WITH staged AS (
    SELECT p_partkey, p_brand, p_size,
           CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
           MAX(p_size) OVER (PARTITION BY p_brand ORDER BY
               CAST(round(p_retailprice * 100) AS BIGINT)
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS max_size_cheaper
    FROM part
), sky AS (
    SELECT * FROM staged
    WHERE max_size_cheaper IS NULL OR p_size > max_size_cheaper
)
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_skyline,
       MIN(price_c) AS cheapest_c,
       CAST(MAX(p_size) AS INTEGER) AS max_size,
       array_to_string(list_transform(list_sort(list(p_partkey)),
                                      x -> CAST(x AS VARCHAR)), ',')
           AS skyline_parts
FROM sky GROUP BY p_brand
"""

QUERIES["part_skyline"] = part_skyline
ORACLES["part_skyline"] = _SKYLINE_SQL

_HOLT_ALPHA, _HOLT_BETA = 0.5, 0.3


def revenue_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing over the monthly revenue
    series, as ONE deterministic left fold: state [level, trend] carried
    through the month-sorted array (α=0.5, β=0.3; init level=x₀, trend=0),
    then 1/2/3-month-ahead forecasts = level + h·trend. Smoothing is
    inherently sequential — the fold over the post-agg series is exactly
    the right place for it (84 points, driver-free, engine-deterministic
    because both engines run the identical IEEE ops in the identical
    order). The forecasting staple on top of the reporting stack."""
    orders = load_table(spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"])
    d = "decimal(38,0)"
    monthly = (
        orders.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "month"
            )
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast(d)).alias("cents"))
        .select("month", (F.col("cents").cast("double") / 100.0).alias("rev"))
    )
    series = monthly.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("month"), F.col("rev")))
        ).alias("s")
    ).select(
        F.transform(F.col("s"), lambda st: st["rev"]).alias("xs"),
        F.size("s").alias("n_months"),
    )
    a, b = _HOLT_ALPHA, _HOLT_BETA
    merge = lambda acc, x: F.array(  # noqa: E731
        F.lit(a) * x + F.lit(1 - a) * (acc[0] + acc[1]),
        F.lit(b) * ((F.lit(a) * x + F.lit(1 - a) * (acc[0] + acc[1])) - acc[0])
        + F.lit(1 - b) * acc[1],
    )
    state = F.aggregate(
        F.slice(F.col("xs"), 2, 100000),
        F.array(F.element_at(F.col("xs"), 1), F.lit(0.0)),
        merge,
    )
    out = series.select(
        "n_months",
        state[0].alias("level"),
        state[1].alias("trend"),
    )
    return out.select(
        F.col("n_months").cast("bigint").alias("n_months"),
        dround(F.col("level"), 4).alias("level"),
        dround(F.col("trend") + F.lit(1e6), 4).alias("trend_p1m"),
        dround(F.col("level") + F.col("trend"), 4).alias("forecast_1m"),
        dround(F.col("level") + 2 * F.col("trend"), 4).alias("forecast_2m"),
        dround(F.col("level") + 3 * F.col("trend"), 4).alias("forecast_3m"),
    )


_HOLT_SQL = f"""
WITH monthly AS (
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           CAST(SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS DOUBLE)
               / 100.0 AS rev
    FROM orders GROUP BY 1
), series AS (
    SELECT list(rev ORDER BY month) AS xs, count(*) AS n_months FROM monthly
), folded AS (
    SELECT n_months,
           list_reduce(
               list_prepend([xs[1], 0.0], list_transform(xs[2:], x -> [x, 0.0])),
               (acc, e) -> [
                   {_HOLT_ALPHA} * e[1] + {1 - _HOLT_ALPHA} * (acc[1] + acc[2]),
                   {_HOLT_BETA} * (({_HOLT_ALPHA} * e[1]
                       + {1 - _HOLT_ALPHA} * (acc[1] + acc[2])) - acc[1])
                   + {1 - _HOLT_BETA} * acc[2]
               ]) AS st
    FROM series
)
SELECT CAST(n_months AS BIGINT) AS n_months,
       floor(st[1] * 1e4 + 0.5) / 1e4 AS level,
       floor((st[2] + 1e6) * 1e4 + 0.5) / 1e4 AS trend_p1m,
       floor((st[1] + st[2]) * 1e4 + 0.5) / 1e4 AS forecast_1m,
       floor((st[1] + 2 * st[2]) * 1e4 + 0.5) / 1e4 AS forecast_2m,
       floor((st[1] + 3 * st[2]) * 1e4 + 0.5) / 1e4 AS forecast_3m
FROM folded
"""

QUERIES["revenue_holt_forecast"] = revenue_holt_forecast
ORACLES["revenue_holt_forecast"] = _HOLT_SQL

def rolling_median_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day EXACT median of daily revenue: the robust trend line
    reporting overlays on noisy dailies (a mean window jumps on one whale
    order; the median doesn't). Revenue reduces to one exact-cent row per
    day first; each day's frame collects ≤7 values, sorts, and indexes the
    order statistic — no interpolation, engine-identical. Frame state is
    bounded by the window length, never the fact table."""
    orders = load_table(spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"])
    d = "decimal(38,0)"
    daily = orders.groupBy(
        F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias("day")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast(d)).alias("cents"))
    w = Window.partitionBy().orderBy("day").rowsBetween(-6, 0)
    frame = F.sort_array(F.collect_list("cents").over(w))
    med = F.element_at(frame, ((F.size(frame) + 1) / 2).cast("int"))
    return daily.select(
        "day",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        (med.cast("double") / 100.0).alias("median_7d"),
        F.size(frame).cast("bigint").alias("n_in_frame"),
    )


_ROLLING_MEDIAN_SQL = """
WITH daily AS (
    SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
           SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS cents
    FROM orders GROUP BY 1
), framed AS (
    SELECT day, cents,
           list_sort(list(cents) OVER (ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS fr
    FROM daily
)
SELECT day,
       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       CAST(fr[CAST(floor((len(fr) + 1) / 2) AS BIGINT)] AS DOUBLE) / 100.0
           AS median_7d,
       CAST(len(fr) AS BIGINT) AS n_in_frame
FROM framed
"""

QUERIES["rolling_median_revenue"] = rolling_median_revenue
ORACLES["rolling_median_revenue"] = _ROLLING_MEDIAN_SQL

def part_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: directed part
    pairs a→b with support ≥ 5 baskets, scored by confidence
    supp(a,b)/supp(a) and lift confidence/P(b) — the recommendation
    primitive ("customers who bought a also bought b"). Top 20 by lift.

    Scale shape: pair generation is bounded by basket width (≤7 parts per
    order); the support threshold prunes before any per-item join; item
    supports are a |parts|-sized broadcast. The same shape as the
    co-supplier graph builder — co-occurrence work scales with baskets,
    never |parts|²."""
    li = load_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_partkey"])
    baskets = li.distinct().localCheckpoint()  # pair build + item supports + N
    n_orders = baskets.agg(
        F.countDistinct("l_orderkey").alias("n_baskets")
    )
    pairs = (
        baskets.alias("x")
        .join(baskets.alias("y"), "l_orderkey")
        .where(F.col("x.l_partkey") != F.col("y.l_partkey"))
        .groupBy(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("supp_ab"))
        .where(F.col("supp_ab") >= 5)
    )
    item = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("supp"))
    sa = item.select(F.col("l_partkey").alias("a"), F.col("supp").alias("supp_a"))
    sb = item.select(F.col("l_partkey").alias("b"), F.col("supp").alias("supp_b"))
    scored = (
        pairs.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .crossJoin(F.broadcast(n_orders))
    )
    conf = F.col("supp_ab").cast("double") / F.col("supp_a").cast("double")
    lift = conf * F.col("n_baskets").cast("double") / F.col("supp_b").cast("double")
    return (
        scored.select(
            "a",
            "b",
            "supp_ab",
            dround(conf, 6).alias("confidence"),
            dround(lift, 6).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "a", "b")
        .limit(20)
    )


_ASSOC_SQL = """
WITH baskets AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
          FROM baskets),
pairs AS (
    SELECT x.l_partkey AS a, y.l_partkey AS b,
           CAST(count(*) AS BIGINT) AS supp_ab
    FROM baskets x JOIN baskets y USING (l_orderkey)
    WHERE x.l_partkey != y.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= 5
), item AS (
    SELECT l_partkey, CAST(count(*) AS BIGINT) AS supp
    FROM baskets GROUP BY 1
)
SELECT p.a, p.b, p.supp_ab,
       floor(CAST(p.supp_ab AS DOUBLE) / CAST(ia.supp AS DOUBLE) * 1e6 + 0.5)
           / 1e6 AS confidence,
       floor(CAST(p.supp_ab AS DOUBLE) / CAST(ia.supp AS DOUBLE)
             * CAST(nb.n_baskets AS DOUBLE) / CAST(ib.supp AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS lift
FROM pairs p
JOIN item ia ON ia.l_partkey = p.a
JOIN item ib ON ib.l_partkey = p.b
CROSS JOIN nb
ORDER BY lift DESC, a, b LIMIT 20
"""

QUERIES["part_association_rules"] = part_association_rules
ORACLES["part_association_rules"] = _ASSOC_SQL

_BOOT_B = 32
# Poisson(1) inverse-CDF thresholds (cumulative pmf), as exact literals so
# both engines bucket the same md5-uniform into the same weight
_POIS_CDF = [
    (0.36787944117144233, 0),
    (0.7357588823428847, 1),
    (0.9196986029286058, 2),
    (0.9810118431238462, 3),
    (0.9963401531726563, 4),
]


def _poisson_weight(u):
    """Poisson(1) inverse-CDF bucketing of a uniform column (shared by the
    Spark plan; the oracle emits the identical CASE ladder)."""
    wexpr = F.lit(5)
    for thr, k in reversed(_POIS_CDF):
        wexpr = F.when(u < F.lit(thr), F.lit(k)).otherwise(wexpr)
    return wexpr


def bootstrap_revenue_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean order value: 32
    resampling replicas, each weighting every order by a Poisson(1) draw
    that is a PURE HASH FUNCTION of (replica, orderkey) — the one-pass
    bootstrap that works at any scale because no replica ever materializes
    a resampled dataset (the classic with-replacement bootstrap cannot
    shuffle 100 TB 32 times; Poisson weights ride the original scan).
    Output: point estimate, replica-mean spread (exact order statistics at
    ranks 2 and 31 of 32 — ≈ a 90% interval).

    Scale form (a per-(replica, row) explode costs one md5 per pair, 48 M
    hashes at sf≈1): each md5 now yields EIGHT independent 16-bit draws,
    so a row hashes 4× instead of 32×. The four hex digests concatenate
    into one 128-char string, `regexp_extract_all('.{4}')` slices out the
    32 draws, and ONE posexplode + ONE small CASE ladder turns them into
    (replica, weight) rows — the expression tree stays tiny (32 copies of
    the ladder made every fresh plan pay ~10 s of codegen). Partial sums
    are plain longs keyed by (replica, hash-bucket) — map-side combined
    to ≤ 32·1024 rows, long-overflow-safe because a bucket holds ~1/1024
    of the rows — and only the 32 K bucket subtotals are re-summed as
    decimals (wide decimals never touch the per-row path). 16-bit uniforms
    quantize the Poisson CDF by ≤ 2^-16 — bootstrap-irrelevant, and
    bit-identical in the oracle (same hex slices, same arithmetic).

    Every replica's weighted sum is exact integer arithmetic; the 32
    replica means sort exactly; no randomness at run time."""
    orders = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_totalprice"])
    d = "decimal(38,0)"
    base = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.pmod(F.xxhash64("o_orderkey"), F.lit(1024)).alias("bkt"),
        F.concat(
            *[
                F.md5(
                    F.concat(
                        F.lit(f"boot{g}:"), F.col("o_orderkey").cast("string")
                    )
                )
                for g in range(_BOOT_B // 8)
            ]
        ).alias("hh"),
    )
    slices = base.select(
        "cents",
        "bkt",
        F.posexplode(F.expr("regexp_extract_all(hh, '.{4}', 0)")).alias(
            "rep0", "hex4"
        ),
    )
    v = F.conv(F.col("hex4"), 16, 10)
    u = (v.cast("double") + F.lit(0.5)) / F.lit(65536.0)
    weighted = slices.select(
        "cents", "bkt", "rep0", _poisson_weight(u).cast("long").alias("w")
    )
    part = weighted.groupBy("rep0", "bkt").agg(
        F.sum(F.col("w") * F.col("cents")).alias("wc"),
        F.sum("w").alias("wsum"),
        F.sum("cents").alias("c"),
        F.count(F.lit(1)).alias("n"),
    )
    per_rep = part.groupBy("rep0").agg(
        (
            F.sum(F.col("wc").cast(d)).cast("double")
            / F.sum(F.col("wsum").cast(d)).cast("double")
            / 100.0
        ).alias("mean_rep"),
        F.sum(F.col("c").cast(d)).alias("tot"),
        F.sum("n").alias("nn"),
    )
    row = per_rep.agg(
        F.array_sort(F.collect_list("mean_rep")).alias("ms"),
        F.first(F.col("tot").cast("double")).alias("tot"),
        F.first("nn").alias("n"),
    )
    return row.select(
        dround(F.col("tot") / F.col("n") / 100.0, 4).alias("mean_point"),
        dround(F.element_at("ms", 2), 4).alias("ci_low"),
        dround(F.element_at("ms", _BOOT_B - 1), 4).alias("ci_high"),
        F.size("ms").cast("bigint").alias("n_replicas"),
    )


def _bootstrap_sql() -> str:
    def case_for(g: int, j: int) -> str:
        u = (
            f"(CAST(('0x' || substr(h{g}, {4 * j + 1}, 4)) AS INTEGER) + 0.5)"
            " / 65536.0"
        )
        whens = " ".join(f"WHEN {u} < {thr!r} THEN {k}" for thr, k in _POIS_CDF)
        return f"CAST(CASE {whens} ELSE 5 END AS HUGEINT)"

    hashes = ", ".join(
        f"md5('boot{g}:' || CAST(o_orderkey AS VARCHAR)) AS h{g}"
        for g in range(_BOOT_B // 8)
    )
    weights = ", ".join(
        f"{case_for(g, j)} AS w{8 * g + j}"
        for g in range(_BOOT_B // 8)
        for j in range(8)
    )
    mean_items = ", ".join(
        f"CAST(SUM(w{i} * cents) AS DOUBLE) / CAST(SUM(w{i}) AS DOUBLE) / 100.0"
        for i in range(_BOOT_B)
    )
    return f"""
WITH base AS (
    SELECT CAST(round(o_totalprice * 100) AS HUGEINT) AS cents, {hashes}
    FROM orders
), weighted AS (
    SELECT cents, {weights} FROM base
), agg AS (
    SELECT CAST(SUM(cents) AS DOUBLE) / count(*) / 100.0 AS mean_point,
           list_sort([{mean_items}]) AS l
    FROM weighted
)
SELECT floor(mean_point * 1e4 + 0.5) / 1e4 AS mean_point,
       floor(l[2] * 1e4 + 0.5) / 1e4 AS ci_low,
       floor(l[{_BOOT_B - 1}] * 1e4 + 0.5) / 1e4 AS ci_high,
       CAST({_BOOT_B} AS BIGINT) AS n_replicas
FROM agg
"""


QUERIES["bootstrap_revenue_ci"] = bootstrap_revenue_ci
ORACLES["bootstrap_revenue_ci"] = _bootstrap_sql()

def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple (nation, market
    segment, account-balance decile): equivalence-class size distribution
    and the share of customers in classes smaller than k=5 — the
    re-identification risk screen that runs before any "anonymized"
    extract ships (PII redaction removes direct identifiers; k-anonymity
    measures what the remaining columns still reveal). One aggregate to the
    class table; the risk rollup runs on it."""
    cust = load_table(
        spark, sf_dir, "customer", ["c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"]
    )
    qid = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    )
    classes = qid.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("sz").cast("bigint").alias("n_rows"),
        F.min("sz").alias("min_class_size"),
        F.count(F.when(F.col("sz") < 5, 1)).alias("classes_below_k5"),
        F.sum(F.when(F.col("sz") < 5, F.col("sz")).otherwise(0))
        .cast("bigint")
        .alias("rows_at_risk"),
        dround(
            F.sum(F.when(F.col("sz") < 5, F.col("sz")).otherwise(0)).cast("double")
            / F.sum("sz").cast("double"),
            6,
        ).alias("risk_share"),
    )


_KANON_SQL = """
WITH classes AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
           CAST(count(*) AS BIGINT) AS sz
    FROM customer GROUP BY 1, 2, 3
)
SELECT CAST(count(*) AS BIGINT) AS n_classes,
       CAST(SUM(sz) AS BIGINT) AS n_rows,
       MIN(sz) AS min_class_size,
       CAST(count(CASE WHEN sz < 5 THEN 1 END) AS BIGINT) AS classes_below_k5,
       CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS rows_at_risk,
       floor(CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS DOUBLE)
             / CAST(SUM(sz) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS risk_share
FROM classes
"""

QUERIES["k_anonymity_audit"] = k_anonymity_audit
ORACLES["k_anonymity_audit"] = _KANON_SQL



def rolling_range_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window + rank-family functions (the W1 surface the
    catalog didn't yet exercise): per (nation, day) revenue with a trailing
    7-day RANGE BETWEEN sum — a VALUE frame, so days missing from the data
    are genuinely absent from the window, unlike a ROWS frame — plus
    percent_rank and cume_dist of the day's revenue within its nation.

    Determinism: daily revenue aggregates to exact integer cents before
    any window math; the rank ordering key (cents, day) is unique per
    partition, so percent_rank/cume_dist are tie-free; both engines
    compute (rank-1)/(n-1) and rank/n as the same IEEE doubles.

    Scale shape: the only full-data shuffle is the (nation, day) groupBy —
    high-cardinality, map-side combinable. The windows run over the
    aggregated daily table (dimension-bounded: nations × days), which is
    the documented-safe place for a low-cardinality partition key.
    """
    orders = load_table(
        spark, sf_dir, "orders", ["o_custkey", "o_orderdate", "o_totalprice"]
    )
    cust = load_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    daily = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    w_range = (
        Window.partitionBy("nk").orderBy("day").rangeBetween(-6, Window.currentRow)
    )
    w_rank = Window.partitionBy("nk").orderBy("cents", "day")
    return daily.select(
        "nk",
        F.col("day").cast("bigint").alias("day"),
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        (F.sum("cents").over(w_range).cast("double") / 100.0).alias("rolling_7d"),
        "n_orders",
        F.percent_rank().over(w_rank).alias("pr"),
        F.cume_dist().over(w_rank).alias("cd"),
    )


_ROLLING_RANGE_SQL = """
WITH daily AS (
    SELECT c_nationkey AS nk,
           datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
           SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents,
           COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY nk, day
)
SELECT nk, day,
       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       CAST(SUM(cents) OVER (PARTITION BY nk ORDER BY day
                             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS DOUBLE) / 100.0 AS rolling_7d,
       n_orders,
       percent_rank() OVER (PARTITION BY nk ORDER BY cents, day) AS pr,
       cume_dist() OVER (PARTITION BY nk ORDER BY cents, day) AS cd
FROM daily
"""

QUERIES["rolling_range_revenue"] = rolling_range_revenue
ORACLES["rolling_range_revenue"] = _ROLLING_RANGE_SQL


def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way fact join with disjoint date predicates on both fact
    tables (TPC-H Q3 flavor): BUILDING-segment customers, orders placed
    before 1995-03-15, lineitems shipped after it; top-10 orders by
    revenue. Exercises multi-join planning with filters pushed into all
    three scans (plan-lint: every scan carries PushedFilters) and a
    TakeOrderedAndProject instead of a global sort."""
    cust = load_table(spark, sf_dir, "customer", ["c_custkey", "c_mktsegment"]).where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_custkey", "o_orderdate"]
    ).where(F.to_date("o_orderdate") < F.lit("1995-03-15"))
    li = load_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"],
    ).where(F.to_date("l_shipdate") > F.lit("1995-03-15"))
    joined = li.join(
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
        li.l_orderkey == orders.o_orderkey,
    )
    return (
        joined.groupBy(
            "o_orderkey",
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("o_date"),
        )
        .agg(
            dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


_Q3_SQL = """
SELECT o_orderkey, strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_date,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
GROUP BY o_orderkey, o_date
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def volume_shipping_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bi-national trade volume (TPC-H Q7 flavor): for every ordered pair
    of nations (supplier nation → customer nation, only pairs with flow),
    yearly revenue shipped 1995-1996. Five-way join where BOTH dimension
    chains (supplier→nation, customer→nation via orders) broadcast; the
    single fact-fact join is lineitem⋈orders."""
    li = load_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"],
    ).where(F.to_date("l_shipdate").between(F.lit("1995-01-01"), F.lit("1996-12-31")))
    orders = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey"])
    supp = load_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"])
    cust = load_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    nation = load_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    supp_n = supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    cust_n = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).select(
        "c_custkey", F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp_n), li.l_suppkey == supp_n.s_suppkey)
        .join(F.broadcast(cust_n), orders.o_custkey == cust_n.c_custkey)
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year(F.to_date("l_shipdate")).alias("l_year")
    ).agg(
        dsum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_Q7_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(CAST(l_shipdate AS DATE)) AS INTEGER) AS l_year,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
GROUP BY supp_nation, cust_nation, l_year
"""


def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-join with a HAVING gate (TPC-H Q18 flavor): orders
    whose total quantity exceeds 300, annotated with their customer. The
    scale-relevant property: the HAVING filter runs on the AGGREGATED
    per-order rows (one shuffle on the fact key), and only the few
    surviving orders join back to dimensions — never the raw lineitems."""
    li = load_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_quantity"])
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .where(F.col("qty") > 300)
    )
    orders = load_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_custkey", "o_totalprice"]
    )
    cust = load_table(spark, sf_dir, "customer", ["c_custkey", "c_name"])
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_totalprice").alias("total_price"),
            F.col("qty").cast("double").alias("total_qty"),
        )
    )


_Q18_SQL = """
SELECT c_name, o_orderkey, o_totalprice AS total_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_name, o_orderkey, total_price
HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
"""

QUERIES["shipping_priority_topk"] = shipping_priority_topk
ORACLES["shipping_priority_topk"] = _Q3_SQL
QUERIES["volume_shipping_matrix"] = volume_shipping_matrix
ORACLES["volume_shipping_matrix"] = _Q7_SQL
QUERIES["large_volume_customers"] = large_volume_customers
ORACLES["large_volume_customers"] = _Q18_SQL


_PORTABLE_LATERAL_SQL = """
SELECT n_name, t.c_name, t.c_acctbal
FROM nation, LATERAL (
    SELECT c_name, c_acctbal FROM customer
    WHERE c_nationkey = n_nationkey
    ORDER BY c_acctbal DESC, c_name LIMIT 3
) t
"""


def sql_text_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7, correlated form: the same LATERAL subquery TEXT runs on both
    engines — per-nation top-3 customers by balance, expressed as the
    correlated per-row table the SQL-first user would write. Catalyst
    decorrelates it into a window-ranked join rather than executing
    per-nation probes, so the portable text still gets a set-oriented
    plan. Deterministic: (c_acctbal DESC, c_name) is a unique ordering."""
    for t in ("nation", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_PORTABLE_LATERAL_SQL)


QUERIES["sql_text_lateral_topk"] = sql_text_lateral_topk
ORACLES["sql_text_lateral_topk"] = _PORTABLE_LATERAL_SQL


_PORTABLE_CORRELATED_SQL = """
SELECT c_custkey, c_acctbal
FROM customer c1
WHERE c_acctbal > (SELECT 2.0 * CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                              / COUNT(*)
                   FROM customer c2
                   WHERE c2.c_nationkey = c1.c_nationkey)
  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c1.c_custkey)
"""


def sql_text_correlated_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7, decorrelation stress: the same SQL text with a correlated
    SCALAR subquery (per-nation exact average in the WHERE) and a
    correlated EXISTS runs on both engines. Catalyst rewrites the scalar
    subquery into an aggregate+join and the EXISTS into a left-semi join —
    the SQL-first user writes row-at-a-time logic and still gets a
    set-oriented plan. The threshold aggregate uses the portable
    decimal-detour spelling so the filter boundary is bit-identical
    cross-engine (a raw AVG(double) differs in low bits and can flip
    boundary rows)."""
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_PORTABLE_CORRELATED_SQL)


QUERIES["sql_text_correlated_outliers"] = sql_text_correlated_outliers
ORACLES["sql_text_correlated_outliers"] = _PORTABLE_CORRELATED_SQL


def price_mad_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median and MAD (median absolute deviation) of
    extended price by return flag, plus the robust outlier count at the
    standard 3·1.4826·MAD cut — the robust-scale companion to the
    winsorized means: MAD survives the heavy-tailed spam that wrecks a
    stddev-based z-score.

    Scale shape: the naive form is a percentile window partitioned by the
    3-value flag over raw rows — exactly the low-cardinality serialization
    plan_lint rejects. Here the fact table is read ONCE, into the
    per-(flag, value) histogram; each median is EXACT from rank arithmetic
    over it (cum ≥ ⌊(n+1)/2⌋ picks the lower middle; ⌊(n+2)/2⌋ the upper;
    interpolate lo + (hi−lo)·0.5, the quantile_cont arithmetic, identical
    IEEE ops on both engines), and the RESIDUAL histogram is derived from
    the value histogram itself (|x−med| carries each bucket's count), so
    the MAD pass and the outlier census never touch the fact table again.
    Histogram cardinality is bounded by the value GRID, not the row count
    (prices are a fixed 2-decimal lattice: distinct values saturate while
    rows keep growing — at 100 TB the histogram is millions of rows against
    trillions scanned). Oracle is deliberately the naive row_number form,
    so it checks the histogram-rank rewrite's equivalence."""
    from platform_etl_drug_disease_spark.operators.scans import (
        quantiles_from_histogram,
    )

    def median_from_hist(hist: DataFrame, key: str, val: str, out: str) -> DataFrame:
        # quantile_cont at p=0.5: pos=(n+1)/2, lo=⌊pos⌋, hi=⌈pos⌉, frac 0/0.5
        # — bit-identical to the hand-rolled average-the-two-middles form.
        return quantiles_from_histogram(
            hist, [key], val, {out: 0.5}, mode="cont"
        )

    # ONE fact-table pass (_price_flag_histogram): everything downstream — the
    # residual histogram included — is pure arithmetic over the value
    # histogram (|x−med| carries each bucket's count unchanged). The median
    # is defined over NON-NULL values on both engines (a NULL bucket would
    # shift Spark's NULLS-FIRST cum ranks but DuckDB's NULLS-LAST
    # row_numbers): dropping the histogram's NULL BUCKET is
    # row-for-row identical to the old pre-scan filter, because filtering
    # on the group key commutes with the groupBy.
    h1 = (
        _price_flag_histogram(spark, sf_dir)
        .where(F.col("l_extendedprice").isNotNull())
        .localCheckpoint()
    )
    med = median_from_hist(h1, "l_returnflag", "l_extendedprice", "median")
    h2 = (
        h1.join(F.broadcast(med), "l_returnflag")
        .select(
            "l_returnflag",
            F.abs(F.col("l_extendedprice") - F.col("median")).alias("d"),
            "c",
        )
        .groupBy("l_returnflag", "d")
        .agg(F.sum("c").alias("c"))
        .localCheckpoint()  # feeds the MAD rank pass + the outlier census
    )
    mad = median_from_hist(h2, "l_returnflag", "d", "mad").select(
        "l_returnflag", "mad"
    )
    out = (
        h2.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.max("mad").alias("mad"),
            F.sum(
                F.when(
                    F.col("d") > F.lit(3.0) * F.lit(1.4826) * F.col("mad"),
                    F.col("c"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )
    return (
        med.join(out, "l_returnflag")
        .select(
            "l_returnflag",
            F.col("n").cast("bigint").alias("n_rows"),
            "median",
            "mad",
            "n_outliers",
        )
    )


_MAD_SQL = """
WITH v AS (SELECT l_returnflag AS f, l_extendedprice AS x FROM lineitem
           WHERE l_extendedprice IS NOT NULL),
n AS (SELECT f, COUNT(*) AS n FROM v GROUP BY f),
r AS (SELECT f, x, row_number() OVER (PARTITION BY f ORDER BY x) AS rn FROM v),
medp AS (
    SELECT r.f,
           MIN(CASE WHEN rn >= CAST(floor((n.n + 1) / 2.0) AS BIGINT)
                    THEN x END) AS vlo,
           MIN(CASE WHEN rn >= CAST(floor((n.n + 2) / 2.0) AS BIGINT)
                    THEN x END) AS vhi
    FROM r JOIN n USING (f) GROUP BY r.f
),
m AS (SELECT f, vlo + (vhi - vlo) * 0.5 AS median FROM medp),
d AS (SELECT v.f, abs(v.x - m.median) AS dd FROM v JOIN m ON v.f = m.f),
rd AS (SELECT f, dd, row_number() OVER (PARTITION BY f ORDER BY dd) AS rn FROM d),
madp AS (
    SELECT rd.f,
           MIN(CASE WHEN rn >= CAST(floor((n.n + 1) / 2.0) AS BIGINT)
                    THEN dd END) AS vlo,
           MIN(CASE WHEN rn >= CAST(floor((n.n + 2) / 2.0) AS BIGINT)
                    THEN dd END) AS vhi
    FROM rd JOIN n USING (f) GROUP BY rd.f
),
mad AS (SELECT f, vlo + (vhi - vlo) * 0.5 AS mad FROM madp)
SELECT n.f AS l_returnflag,
       CAST(n.n AS BIGINT) AS n_rows,
       m.median,
       mad.mad,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM d
        WHERE d.f = n.f AND d.dd > 3.0 * 1.4826 * mad.mad) AS n_outliers
FROM n JOIN m ON n.f = m.f JOIN mad ON n.f = mad.f
"""

QUERIES["price_mad_stats"] = price_mad_stats
ORACLES["price_mad_stats"] = _MAD_SQL
