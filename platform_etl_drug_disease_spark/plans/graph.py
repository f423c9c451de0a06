"""Graph/ontology catalog: the reference's network semantics re-expressed
relationally (SURVEY.md §2's NetworkDB + ontology rows).

- adjacency build: symmetrize edges → group → collect_set + degree
  (sim.sc:53-74)
- evidence propagation over neighbours∪self (sim.sc:450, 464)
- ancestors→descendants ontology inversion (sim.sc:178-185)

Edges are derived from the harness data: (customer, supplier) pairs that
co-occur on an order form an undirected trade edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.operators.arrays import flatten_distinct
from platform_etl_drug_disease_spark.operators.joins import symmetrize
from platform_etl_drug_disease_spark.plans._util import arr_join, dround, dsum
from platform_etl_drug_disease_spark.schemas import load_table


def _sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected trade edges (sim.sc:53-54 semantics). Customer nodes keep
    their key; supplier nodes are offset by 10^12 so the id spaces don't
    collide.

    Scale note: ``joins.symmetrize`` explodes both directions from ONE pass;
    a union(swap) would scan the upstream join twice (caught by plan_lint),
    which at 100 TB recomputes the whole fact join."""
    return _sym_edges_raw(spark, sf_dir).distinct()


# Supplier node ids are offset into their own id space so customer and
# supplier keys never collide AT ANY SCALE: TPC-H c_custkey reaches
# 150,000×SF, so a 10^6 offset would collide around SF≥7.
# 10^12 clears custkey up to SF ~6.7M (≫ the 100-TB target of SF ~10^5)
# while staying far inside int64. Single source of truth — the SQL
# oracles' `l_suppkey + 1000000000000` literals must match this value.
SUPPLIER_OFFSET = 1_000_000_000_000


def _directed_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed (customer → supplier) purchase edges, one row per lineitem
    (NOT distinct). The single definition of the trade graph's edge
    derivation — every graph query (sym/BFS/pagerank/HITS/triangles) builds
    from this, so the join and the id-space offset can never diverge."""
    li = load_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey"])
    orders = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey"])
    return li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("src"),
        (F.col("l_suppkey") + F.lit(SUPPLIER_OFFSET)).alias("dst"),
    )


def _sym_edges_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized edges WITHOUT the distinct shuffle — for consumers whose
    next step is a set-style aggregation (collect_set / approx_count_distinct
    dedup per group anyway). Feeding them raw edges saves a full (src,dst)
    shuffle whose partitioning the following per-src groupBy couldn't reuse."""
    return symmetrize(_directed_edges(spark, sf_dir), "src", "dst")


_SYM_EDGES_CTE = """
WITH raw_edges AS (
    SELECT o_custkey AS src, l_suppkey + 1000000000000 AS dst
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), edges AS (
    SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM raw_edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM raw_edges
    )
)
"""


def adjacency_lut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2 adjacency lookup table (sim.sc:72-74): sorted neighbour array +
    exact degree (the oracle-checkable form; the reference's HLL++ approx
    variant is ``adjacency_degree_approx``, rows-only).

    One shuffle: raw (non-distinct) edges go straight into the per-src
    collect_set, which dedups per group; degree is the SIZE of that set, not
    a second count(distinct) aggregate (mixing the two forces an Expand
    plan), and no edge-level distinct precedes the groupBy (its (src,dst)
    partitioning couldn't be reused by the per-src aggregation anyway)."""
    edges = _sym_edges_raw(spark, sf_dir)
    grouped = edges.groupBy("src").agg(
        F.sort_array(F.collect_set("dst")).alias("neighbours")
    )
    return grouped.select(
        "src",
        arr_join("neighbours", "string").alias("neighbours"),
        F.size("neighbours").cast("bigint").alias("degree"),
    )


_ADJACENCY_SQL = _SYM_EDGES_CTE + """
SELECT src,
       array_to_string(list_transform(list_sort(array_agg(DISTINCT dst)),
                                      x -> CAST(x AS VARCHAR)), ',') AS neighbours,
       COUNT(DISTINCT dst) AS degree
FROM edges
GROUP BY src
"""


def adjacency_degree_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: HLL++ degree (approx_count_distinct, sim.sc:74). Engine-specific
    sketch values → no SQL oracle; the driver records rows-only. Accuracy vs
    exact degree is asserted in tests/test_graph.py instead. Raw edges: the
    HLL sketch absorbs duplicates, no distinct shuffle needed — measured:
    dedup-first is a wash here (7.35 vs 7.39 s at sf≈1; this
    graph's duplicate mass is low, so the extra shuffle buys nothing and
    register updates dominate either way). The audit twin's win came from
    removing the countDistinct-induced Expand, which this sketch-only form
    never had."""
    edges = _sym_edges_raw(spark, sf_dir)
    return edges.groupBy("src").agg(
        F.approx_count_distinct("dst", 0.02).alias("degree_approx")
    )


def adjacency_degree_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 with a full value oracle: per-node exact degree
    (count distinct) alongside a deterministic audit of the HLL++ sketch.

    The HLL estimate itself is engine-specific, so it never appears in the
    output. What does: the exact degree, the tolerance bound derived purely
    from it (``greatest(4, ceil(0.1*degree))`` ≈ 5×rsd at rsd=0.02 — far
    outside HLL++'s error tail), and ``hll_ok`` — whether the sketch landed
    inside the bound. Spark's HLL++ merge is order-insensitive (register
    max), so ``hll_ok`` is deterministic; the oracle asserts TRUE for every
    node, which makes A2 driver-checkable instead of rows-only.

    Plan note (24.9 → 8.8 s at sf≈1): a
    DISTINCT aggregate next to a regular one makes Spark duplicate every
    input row through an Expand before the shuffle — ×2 volume on 12 M
    edges at sf≈1. Deduplicating (src, dst) first turns both into plain
    aggregates over the distinct edge set (HLL is duplicate-insensitive:
    identical registers, identical estimate); the win is Expand removal,
    not dup-mass collapse (this graph's duplicate mass is low — see the
    sketch-only twin above, where dedup-first measured as a wash)."""
    edges = _sym_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(
        F.count("dst").alias("degree"),
        F.approx_count_distinct("dst", 0.02).alias("__hll"),
    )
    bound = F.greatest(F.lit(4), F.ceil(F.col("degree") * 0.1)).cast("bigint")
    return deg.select(
        "src",
        F.col("degree").cast("bigint").alias("degree"),
        bound.alias("err_bound"),
        (F.abs(F.col("__hll") - F.col("degree")) <= bound).alias("hll_ok"),
    )


_DEGREE_AUDIT_SQL = _SYM_EDGES_CTE + """
SELECT src,
       COUNT(DISTINCT dst) AS degree,
       greatest(4, CAST(ceil(COUNT(DISTINCT dst) * 0.1) AS BIGINT)) AS err_bound,
       TRUE AS hll_ok
FROM edges
GROUP BY src
"""


def propagate_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evidence propagation over neighbours∪self (sim.sc:450, 464): each
    node's base score (its total order value; suppliers score 0) spreads to
    every network neighbour and itself; per node, sum incoming scores.

    Spark plan: adjacency LUT → array_union(neighbours, array(self)) →
    explode → join base scores on the *source* → re-group on the receiver.
    Raw edges feed the collect_set (dedup per group) — no distinct shuffle.
    """
    edges = _sym_edges_raw(spark, sf_dir)
    adjacency = edges.groupBy("src").agg(F.collect_set("dst").alias("neighbours"))
    base = (
        load_table(spark, sf_dir, "orders", ["o_custkey", "o_totalprice"])
        .groupBy("o_custkey")
        .agg(dsum("o_totalprice").alias("base_score"))
        .withColumnRenamed("o_custkey", "node")
    )
    fanout = adjacency.select(
        F.col("src"),
        F.explode(F.array_union("neighbours", F.array(F.col("src")))).alias("receiver"),
    )
    scored = fanout.join(base, fanout.src == base.node, "inner")
    return scored.groupBy("receiver").agg(
        F.round(F.sum("base_score"), 4).alias("received_total"),
        F.count(F.lit(1)).alias("n_contributors"),
    )


# base_score is an exact decimal-summed double; receiving-side re-sum crosses
# engines in arbitrary order, so the oracle re-sums the same exact doubles cast
# back to decimal — both engines add identical 4-decimal values exactly.
_PROPAGATE_SQL = _SYM_EDGES_CTE + """
, base AS (
    SELECT o_custkey AS node,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS base_score
    FROM orders GROUP BY o_custkey
), fanout AS (
    SELECT src, dst AS receiver FROM edges
    UNION ALL
    SELECT DISTINCT src, src AS receiver FROM edges
)
SELECT f.receiver,
       round(CAST(SUM(CAST(b.base_score AS DECIMAL(18,6))) AS DOUBLE), 4) AS received_total,
       COUNT(*) AS n_contributors
FROM fanout f JOIN base b ON f.src = b.node
GROUP BY f.receiver
"""


def region_descendants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ontology inversion (sim.sc:174-185): nations carry ancestor paths
    (array<array<string>> like EFO path_codes) → flatten+distinct →
    explode → group by ancestor → collect_set of descendants."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    with_paths = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(
        "n_name",
        F.array(F.array(F.col("r_name")), F.array(F.lit("WORLD"))).alias("path_codes"),
    )
    ancestors = with_paths.select(
        "n_name", flatten_distinct("path_codes").alias("ancestors")
    )
    return (
        ancestors.select("n_name", F.explode("ancestors").alias("ancestor"))
        .groupBy("ancestor")
        .agg(
            arr_join(F.sort_array(F.collect_set("n_name"))).alias("descendants"),
            F.countDistinct("n_name").alias("n_descendants"),
        )
    )


_DESCENDANTS_SQL = """
WITH ancestors AS (
    SELECT n_name, unnest(['WORLD', r_name]) AS ancestor
    FROM nation JOIN region ON n_regionkey = r_regionkey
)
SELECT ancestor,
       array_to_string(list_sort(array_agg(DISTINCT n_name)), ',') AS descendants,
       COUNT(DISTINCT n_name) AS n_descendants
FROM ancestors
GROUP BY ancestor
"""


def two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop neighbourhood size per customer node: the self-join form of
    network expansion (the at-scale alternative to materializing neighbour
    arrays and exploding twice)."""
    # checkpointed: both sides of the self-join read it
    edges = _sym_edges(spark, sf_dir).localCheckpoint()
    # bound the expansion: two-hop through supplier hub nodes is O(deg^2);
    # restrict source nodes to a fixed customer subset (pushed into e1
    # before the join) so intermediate rows stay bounded at any sf.
    sources = edges.where(F.col("src") < 200)
    hop2 = (
        sources.alias("e1")
        .join(edges.alias("e2"), F.col("e1.dst") == F.col("e2.src"))
        .select(F.col("e1.src").alias("node"), F.col("e2.dst").alias("reached"))
        .where(F.col("node") != F.col("reached"))
        .distinct()
    )
    return hop2.groupBy("node").agg(F.count(F.lit(1)).alias("n_two_hop"))


_TWO_HOP_SQL = _SYM_EDGES_CTE + """
, hop2 AS (
    SELECT DISTINCT e1.src AS node, e2.dst AS reached
    FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
    WHERE e1.src < 200 AND e1.src != e2.dst
)
SELECT node, COUNT(*) AS n_two_hop
FROM hop2
GROUP BY node
"""


def trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 trade-graph nodes by 3-iteration PageRank
    (operators/graph_algos.py) — the fixed-point generalization of the
    reference's one-hop evidence propagation (sim.sc:450-464 →
    ``propagate_scores``). The symmetric edge set satisfies the operator's
    no-dangling precondition; every iteration's contribution sum runs in
    exact decimal, so the whole fit replays bit-for-bit in SQL below."""
    from platform_etl_drug_disease_spark.operators.graph_algos import pagerank

    edges = _sym_edges(spark, sf_dir)
    pr = pagerank(edges, n_iters=3, damping=0.85)
    out = pr.select("node", dround("rank", 9).alias("rank"))
    top = out.orderBy(F.col("rank").desc(), "node").limit(20)
    w = Window.orderBy(F.col("rank").desc(), "node")
    return top.select(F.row_number().over(w).alias("rk"), "node", "rank")


def _pagerank_sql() -> str:
    """3-iteration replay: same decimal contribution sums, same IEEE rank
    update, same floor-based rounding (plans/_util.dround semantics)."""
    step = """
    SELECT d.src, d.deg,
           0.15 / (SELECT n FROM nn)
             + 0.85 * CAST(SUM(CAST(r.rank / r.deg AS DECIMAL(28,12)))
                           AS DOUBLE) AS rank
    FROM {ranks} r JOIN edges e ON r.src = e.src
    JOIN deg d ON d.src = e.dst
    GROUP BY d.src, d.deg
    """
    return _SYM_EDGES_CTE + f"""
, deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
nn AS (
    SELECT count(*) AS n FROM (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges)
),
r0 AS (SELECT src, deg, 1.0 / (SELECT n FROM nn) AS rank FROM deg),
r1 AS ({step.format(ranks="r0")}),
r2 AS ({step.format(ranks="r1")}),
r3 AS ({step.format(ranks="r2")})
SELECT CAST(row_number() OVER (ORDER BY rank DESC, node) AS INTEGER) AS rk,
       node, rank
FROM (
    SELECT src AS node, floor(rank * 1e9 + 0.5) / 1e9 AS rank FROM r3
)
ORDER BY rank DESC, node
LIMIT 20
"""


def _co_supplier_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-thresholded co-supplier edges (u < v, ≥5 shared orders) —
    shared by the triangle, k-core and clustering queries; see
    supplier_triangles for why the threshold is mandatory on a
    co-occurrence graph (the scale-safety property
    tests/test_analytics.py::test_overlap_and_triangle_plans_stay_scale_safe
    pins)."""
    li = load_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey"])
    order_supp = li.distinct()
    return (
        order_supp.alias("a")
        .join(order_supp.alias("b"), "l_orderkey")
        .where(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .groupBy(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 5)
        .select("u", "v")
    )


_PAIR_CTE = """
order_supp AS (
    SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
), pair AS (
    SELECT a.l_suppkey AS u, b.l_suppkey AS v
    FROM order_supp a JOIN order_supp b USING (l_orderkey)
    WHERE a.l_suppkey < b.l_suppkey
    GROUP BY 1, 2 HAVING count(*) >= 5
)
"""


def supplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-supplier graph (suppliers sharing an order
    form an edge) using DEGREE-ORDERED ORIENTATION — the standard
    distributed-triangle trick (Cohen 2009; Suri & Vassilvitskii WWW'11):
    orient every undirected edge from its lower-(degree, id) endpoint to the
    higher one, enumerate wedges only around ORIENTED out-neighbourhoods,
    and close them with one more equi-join.

    Edges are SUPPORT-THRESHOLDED first (≥5 shared orders — the standard
    market-basket prune): a raw co-occurrence graph over few suppliers is
    near-COMPLETE (every order's suppliers form a clique), and no triangle
    algorithm survives a near-complete graph — measured at sf≈1, the
    unthresholded graph closes 1.2B triangles (247 s); thresholding keeps
    the recurring-partner structure and collapses the wedge volume.

    Why this survives 100 TB: the naive wedge join fans out as Σ deg(v)² —
    a single hub supplier with 10⁶ neighbours emits 10¹² wedges. After
    orientation every node's out-degree is O(√|E|) regardless of its raw
    degree (a node can only point to neighbours of even-higher degree), so
    the wedge join is bounded by Σ outdeg(v)² ≤ |E|^1.5 — the provably
    optimal join-based bound. The degree table is |V|-sized → broadcast;
    per-order pair generation is bounded by order width (≤7 lineitems).
    Each triangle is counted exactly once (its vertices appear in
    (deg, id)-sorted order).
    """
    from platform_etl_drug_disease_spark.operators.graph_algos import (
        triangle_stats,
    )

    return triangle_stats(_co_supplier_pairs(spark, sf_dir))


_TRIANGLE_SQL = "WITH " + _PAIR_CTE + """
, deg AS (
    SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT u AS node FROM pair UNION ALL SELECT v FROM pair
    ) GROUP BY node
), oriented AS (
    SELECT CASE WHEN (du.deg, p.u) < (dv.deg, p.v) THEN p.u ELSE p.v END AS src,
           CASE WHEN (du.deg, p.u) < (dv.deg, p.v) THEN p.v ELSE p.u END AS dst
    FROM pair p
    JOIN deg du ON du.node = p.u
    JOIN deg dv ON dv.node = p.v
), wedges AS (
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM oriented e1 JOIN oriented e2 ON e1.dst = e2.src
), tri AS (
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM wedges w WHERE EXISTS (
        SELECT 1 FROM oriented o WHERE o.src = w.a AND o.dst = w.c
    )
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM pair) AS n_edges,
       (SELECT CAST(max(od) AS BIGINT) FROM (
            SELECT count(*) AS od FROM oriented GROUP BY src
        )) AS max_out_degree,
       n_triangles
FROM tri
"""



_KCORE_K, _KCORE_ROUNDS = 60, 4


def supplier_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous k-core peeling (k=60, 4 rounds) of the support-
    thresholded co-supplier graph — the cohesive-subgraph extractor used to
    find the stable recurring-partner core. One row per round with the
    surviving (nodes, edges); equal consecutive rows = converged to the
    exact 60-core. Fixed rounds keep the whole job a static DAG the oracle
    replays CTE-for-CTE (same contract as trade_pagerank)."""
    from platform_etl_drug_disease_spark.operators.graph_algos import kcore_peel

    return kcore_peel(
        _co_supplier_pairs(spark, sf_dir), k=_KCORE_K, n_rounds=_KCORE_ROUNDS
    )


def _kcore_sql() -> str:
    # every per-round CTE is AS MATERIALIZED: DuckDB inlines plain CTEs, and
    # a 4-round chain of NOT EXISTS over inlined predecessors re-expands the
    # whole peeling history per reference — measured as a >100 s hang at
    # sf0.01 vs instant when materialized.
    rounds = []
    prev = "pair"
    for r in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
d{r} AS MATERIALIZED (
    SELECT node, count(*) AS deg FROM (
        SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}
    ) GROUP BY node
),
bad{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg < {_KCORE_K}),
e{r} AS MATERIALIZED (
    SELECT u, v FROM {prev} e
    WHERE NOT EXISTS (SELECT 1 FROM bad{r} b WHERE b.node = e.u)
      AND NOT EXISTS (SELECT 1 FROM bad{r} b WHERE b.node = e.v)
),
s{r} AS (
    SELECT {r} AS round,
           (SELECT CAST(count(DISTINCT node) AS BIGINT) FROM (
                SELECT u AS node FROM e{r} UNION ALL SELECT v FROM e{r}
            )) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS n_edges
)""")
        prev = f"e{r}"
    unions = " UNION ALL ".join(
        f"SELECT * FROM s{r}" for r in range(1, _KCORE_ROUNDS + 1)
    )
    return "WITH " + _PAIR_CTE + "," + ",".join(rounds) + "\n" + unions



def supplier_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 suppliers by local clustering coefficient on the
    support-thresholded co-supplier graph — "whose partners also partner
    with each other?", the cohesion score that separates brokers (low
    clustering, high degree) from clique members. Exact integer triangle
    credits and degrees; ties broken by node id."""
    from platform_etl_drug_disease_spark.operators.graph_algos import (
        node_clustering,
    )

    out = node_clustering(_co_supplier_pairs(spark, sf_dir))
    return (
        out.select(
            "node",
            F.col("deg").cast("bigint").alias("deg"),
            F.col("n_triangles").cast("bigint").alias("n_triangles"),
            dround(F.col("clustering"), 6).alias("clustering"),
        )
        .orderBy(F.col("clustering").desc(), "node")
        .limit(20)
    )


_CLUSTERING_SQL = "WITH " + _PAIR_CTE + """
, deg AS (
    SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT u AS node FROM pair UNION ALL SELECT v FROM pair
    ) GROUP BY node
), oriented AS (
    SELECT CASE WHEN (du.deg, p.u) < (dv.deg, p.v) THEN p.u ELSE p.v END AS src,
           CASE WHEN (du.deg, p.u) < (dv.deg, p.v) THEN p.v ELSE p.u END AS dst
    FROM pair p
    JOIN deg du ON du.node = p.u
    JOIN deg dv ON dv.node = p.v
), tri AS (
    SELECT w.a, w.b, w.c
    FROM (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
          FROM oriented e1 JOIN oriented e2 ON e1.dst = e2.src) w
    WHERE EXISTS (SELECT 1 FROM oriented o WHERE o.src = w.a AND o.dst = w.c)
), credits AS (
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ) GROUP BY node
)
SELECT d.node, d.deg,
       COALESCE(c.n_triangles, 0) AS n_triangles,
       floor(CASE WHEN d.deg >= 2
                  THEN CAST(2 * COALESCE(c.n_triangles, 0) AS DOUBLE)
                       / CAST(d.deg * (d.deg - 1) AS DOUBLE)
                  ELSE 0.0 END * 1e6 + 0.5) / 1e6 AS clustering
FROM deg d LEFT JOIN credits c USING (node)
ORDER BY clustering DESC, node
LIMIT 20
"""




def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (LPA), 3 fixed rounds, deterministic
    tie-break — community detection on the trade graph with a full value
    oracle (the oracle unrolls the same 3 rounds as CTEs).

    Update rule: a node adopts the most frequent label among its
    neighbours; ties break to the SMALLEST label, so every round is a
    pure function of the previous labelling — no engine-order dependence.
    Per round the plan is two aggregates, no window: count (dst, label)
    votes, then per-dst argmax via min(struct(-votes, label)) — both
    map-side combinable. Edges persist pre-partitioned on src so the
    per-round join reuses one layout (same discipline as trade_pagerank);
    labels stay (node, label) pairs — at 100 TB nothing materializes
    beyond 2|V| rows per round. Output: community sizes (size >= 2) with
    their min-node representative.
    """
    edges = _sym_edges(spark, sf_dir).repartition(F.col("src")).persist()
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(3):
        votes = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("votes"))
        )
        labels = votes.groupBy(F.col("dst").alias("node")).agg(
            F.min(F.struct((-F.col("votes")).alias("nv"), F.col("label").alias("l")))
            .getField("l")
            .alias("label")
        )
        labels = labels.localCheckpoint()  # cut the lineage between rounds
    out = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_nodes"), F.min("node").alias("min_node")
    )
    edges.unpersist()
    return out.where(F.col("n_nodes") >= 2)


def _lpa_sql() -> str:
    rounds = ["SELECT src AS node, src AS label FROM (SELECT DISTINCT src FROM edges) t"]
    body = ""
    prev = "l0"
    body += f", l0 AS ({rounds[0]})"
    for i in range(1, 4):
        body += f""",
v{i} AS (
    SELECT e.dst, l.label, COUNT(*) AS votes
    FROM edges e JOIN {prev} l ON e.src = l.node
    GROUP BY e.dst, l.label
),
l{i} AS (
    SELECT dst AS node, label
    FROM (SELECT dst, label,
                 row_number() OVER (PARTITION BY dst ORDER BY votes DESC, label) AS rn
          FROM v{i})
    WHERE rn = 1
)"""
        prev = f"l{i}"
    return _SYM_EDGES_CTE + body + f"""
SELECT label, COUNT(*) AS n_nodes, MIN(node) AS min_node
FROM {prev}
GROUP BY label
HAVING COUNT(*) >= 2
"""




def personalized_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 nodes by personalized PageRank seeded at nation-0 customers
    — "which graph nodes are most relevant to this buyer cohort", the
    recommendation-flavored variant of trade_pagerank. Teleport mass goes
    only to seeds; the oracle replays the 3 iterations (decimal
    contribution sums, IEEE teleport arithmetic) as unrolled CTEs."""
    from platform_etl_drug_disease_spark.operators.graph_algos import (
        personalized_pagerank,
    )

    # persist: both the seed derivation and the operator's pre-partitioned
    # edge table consume this (else the lineitem⋈orders edge join recomputes
    # for each); the operator returns a checkpoint, so release it after.
    edges = _sym_edges(spark, sf_dir).persist()
    cust = load_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .join(
            F.broadcast(cust.where(F.col("c_nationkey") == 0)),
            F.col("node") == F.col("c_custkey"),
            "left_semi",
        )
    )
    pr = personalized_pagerank(edges, seeds, n_iters=3, damping=0.85)
    edges.unpersist()
    out = pr.select("node", dround("rank", 9).alias("rank"))
    top = out.orderBy(F.col("rank").desc(), "node").limit(20)
    w = Window.orderBy(F.col("rank").desc(), "node")
    return top.select(F.row_number().over(w).alias("rk"), "node", "rank")


def _ppr_sql() -> str:
    step = """
    SELECT b.src, b.deg, b.p,
           0.15 * b.p
             + 0.85 * COALESCE(CAST(SUM(CAST(t.rank / t.deg AS DECIMAL(28,12)))
                                    AS DOUBLE), 0.0) AS rank
    FROM base b LEFT JOIN (
        SELECT e.dst, r.rank, r.deg FROM {ranks} r JOIN edges e ON r.src = e.src
    ) t ON b.src = t.dst
    GROUP BY b.src, b.deg, b.p
    """
    return _SYM_EDGES_CTE + f"""
, deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
seeds AS (
    SELECT DISTINCT d.src AS node
    FROM deg d JOIN customer ON d.src = c_custkey
    WHERE c_nationkey = 0
),
ns AS (SELECT count(*) AS n FROM seeds),
base AS (
    SELECT d.src, d.deg,
           CASE WHEN s.node IS NOT NULL
                THEN 1.0 / (SELECT n FROM ns) ELSE 0.0 END AS p
    FROM deg d LEFT JOIN seeds s ON d.src = s.node
),
r0 AS (SELECT src, deg, p, p AS rank FROM base),
r1 AS ({step.format(ranks="r0")}),
r2 AS ({step.format(ranks="r1")}),
r3 AS ({step.format(ranks="r2")})
SELECT CAST(row_number() OVER (ORDER BY rank DESC, node) AS INTEGER) AS rk,
       node, rank
FROM (
    SELECT src AS node, floor(rank * 1e9 + 0.5) / 1e9 AS rank FROM r3
)
ORDER BY rank DESC, node
LIMIT 20
"""


def supplier_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances from the nation-0 customer cohort over
    the undirected trade graph, depth ≤ 3 — "how far is every node from this
    buyer segment". Frontier iteration (operators/graph_algos.bfs_levels):
    per round one equi-join against the pre-partitioned edge set + one
    distinct + one anti-join vs visited, O(|E|) total across rounds. The
    oracle unrolls the same 3 expansions as CTEs. Output: nodes + min node
    per level."""
    edges = _sym_edges(spark, sf_dir).repartition(F.col("src")).persist()
    cust = load_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .join(
            F.broadcast(cust.where(F.col("c_nationkey") == 0)),
            F.col("node") == F.col("c_custkey"),
            "left_semi",
        )
    )
    from platform_etl_drug_disease_spark.operators.graph_algos import bfs_levels

    visited = bfs_levels(edges, seeds, max_depth=BFS_MAX_DEPTH)
    out = visited.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_nodes"), F.min("node").alias("min_node")
    )
    edges.unpersist()
    return out


# Iteration-depth constants shared by the Spark loops AND the generated
# unrolled-CTE oracles below — bump either constant and its oracle regrows
# the matching number of CTE stages automatically; the depth-parametrized
# pytest (tests/test_analytics.py) pins loop ≡ oracle for depths 1..4 so a
# mismatch between a hand-edited loop and a stale oracle can't ship.
BFS_MAX_DEPTH = 3
HITS_N_ITERS = 2


def bfs_sql_body(max_depth: int) -> str:
    """Unrolled BFS expansion as chained CTEs over ``edges(src, dst)`` and
    ``seeds(node)`` (both must already be defined by the caller's WITH
    prefix). Exactly the frontier/visited algebra of
    operators/graph_algos.bfs_levels, one CTE pair per depth."""
    parts = [
        "v0 AS (SELECT node, 0 AS level FROM seeds)",
        "f0 AS (SELECT node FROM seeds)",
    ]
    for i in range(1, max_depth + 1):
        parts.append(
            f"f{i} AS (SELECT DISTINCT e.dst AS node FROM edges e "
            f"JOIN f{i - 1} ON e.src = f{i - 1}.node\n"
            f"       WHERE e.dst NOT IN (SELECT node FROM v{i - 1}))"
        )
        parts.append(
            f"v{i} AS (SELECT node, level FROM v{i - 1} "
            f"UNION ALL SELECT node, {i} FROM f{i})"
        )
    return (
        ", "
        + ",\n".join(parts)
        + f"""
SELECT level, COUNT(*) AS n_nodes, MIN(node) AS min_node
FROM v{max_depth} GROUP BY level
"""
    )


_BFS_SQL = _SYM_EDGES_CTE + """
, seeds AS (
    SELECT DISTINCT e.src AS node
    FROM edges e JOIN customer ON e.src = c_custkey
    WHERE c_nationkey = 0
)""" + bfs_sql_body(BFS_MAX_DEPTH)


def supplier_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS authorities over the DIRECTED customer→supplier purchase graph:
    top-15 suppliers by authority after 2 sum-normalized iterations —
    "which suppliers are endorsed by the strongest hub buyers". Every
    contribution sum is decimal-exact and every normalizer a single double
    division (operators/graph_algos.hits_scores), so the unrolled-CTE
    oracle reproduces the scores bit-for-bit."""
    from platform_etl_drug_disease_spark.operators.graph_algos import hits_scores

    auth = hits_scores(_directed_edges(spark, sf_dir), n_iters=HITS_N_ITERS)
    out = auth.select("node", dround("authority", 9).alias("authority"))
    top = out.orderBy(F.col("authority").desc(), "node").limit(15)
    w = Window.orderBy(F.col("authority").desc(), "node")
    return top.select(F.row_number().over(w).alias("rk"), "node", "authority")


def hits_sql_body(n_iters: int) -> str:
    """Unrolled HITS half-steps as chained CTEs over ``dedges(src, dst)``
    (defined by the caller's WITH prefix): a1 = exact integer in-degree,
    then per full iteration a sum-normalize → hub contribution →
    sum-normalize → authority contribution, every sum riding
    DECIMAL(28,12) — the same arithmetic as
    operators/graph_algos.hits_scores, so the scores agree bit-for-bit at
    any iteration count. Ends with the top-15 ranking the catalog query
    emits."""
    dec_sum = "CAST(SUM(CAST({c} AS DECIMAL(28,12))) AS DOUBLE)"
    parts = [
        "a1 AS (SELECT dst, CAST(COUNT(*) AS DOUBLE) AS s FROM dedges GROUP BY dst)"
    ]
    for i in range(1, n_iters):
        parts.append(
            f"a{i}t AS (SELECT {dec_sum.format(c='s')} AS t FROM a{i})"
        )
        parts.append(f"a{i}n AS (SELECT dst, s / (SELECT t FROM a{i}t) AS s FROM a{i})")
        parts.append(
            f"h{i} AS (SELECT e.src, {dec_sum.format(c='a.s')} AS s\n"
            f"       FROM dedges e JOIN a{i}n a ON e.dst = a.dst GROUP BY e.src)"
        )
        parts.append(
            f"h{i}t AS (SELECT {dec_sum.format(c='s')} AS t FROM h{i})"
        )
        parts.append(f"h{i}n AS (SELECT src, s / (SELECT t FROM h{i}t) AS s FROM h{i})")
        parts.append(
            f"a{i + 1} AS (SELECT e.dst, {dec_sum.format(c='h.s')} AS s\n"
            f"       FROM dedges e JOIN h{i}n h ON e.src = h.src GROUP BY e.dst)"
        )
    k = n_iters
    parts.append(f"a{k}t AS (SELECT {dec_sum.format(c='s')} AS t FROM a{k})")
    return (
        ",\n"
        + ",\n".join(parts)
        + f"""
SELECT CAST(row_number() OVER (ORDER BY authority DESC, node) AS INTEGER) AS rk,
       node, authority
FROM (
    SELECT dst AS node,
           floor((s / (SELECT t FROM a{k}t)) * 1e9 + 0.5) / 1e9 AS authority
    FROM a{k}
)
ORDER BY authority DESC, node
LIMIT 15
"""
    )


_HITS_SQL = """
WITH dedges AS (
    SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000000000 AS dst
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)""" + hits_sql_body(HITS_N_ITERS)


QUERIES = {
    "adjacency_lut": adjacency_lut,
    "adjacency_degree_approx": adjacency_degree_approx,
    "adjacency_degree_audit": adjacency_degree_audit,
    "propagate_scores": propagate_scores,
    "region_descendants": region_descendants,
    "two_hop_reach": two_hop_reach,
    "trade_pagerank": trade_pagerank,
    "supplier_triangles": supplier_triangles,
    "supplier_kcore": supplier_kcore,
    "supplier_clustering": supplier_clustering,
    "label_propagation_communities": label_propagation_communities,
    "personalized_pagerank_topk": personalized_pagerank_topk,
    "supplier_bfs_levels": supplier_bfs_levels,
    "supplier_hits_scores": supplier_hits_scores,
}

ORACLES = {
    "adjacency_lut": _ADJACENCY_SQL,
    "adjacency_degree_audit": _DEGREE_AUDIT_SQL,
    "propagate_scores": _PROPAGATE_SQL,
    "region_descendants": _DESCENDANTS_SQL,
    "two_hop_reach": _TWO_HOP_SQL,
    "trade_pagerank": _pagerank_sql(),
    "supplier_triangles": _TRIANGLE_SQL,
    "supplier_kcore": _kcore_sql(),
    "supplier_clustering": _CLUSTERING_SQL,
    "label_propagation_communities": _lpa_sql(),
    "personalized_pagerank_topk": _ppr_sql(),
    "supplier_bfs_levels": _BFS_SQL,
    "supplier_hits_scores": _HITS_SQL,
    # adjacency_degree_approx: sketch-based, rows-only by design
}
