"""Iterative link-analysis over edge DataFrames: PageRank.

The reference propagates evidence exactly one hop (neighbours∪self,
sim.sc:450-464 — re-expressed in plans/graph.py:propagate_scores); PageRank
is the fixed-point generalization a corpus pipeline wants for web-graph
quality signals (host/page authority as a training-data quality prior).

Spark-first shape, same philosophy as operators/dedup.py's connected
components: each iteration is ONE join (ranks ⋈ edges, both keyed by src —
co-partitioned, so the exchange on the edge side is planned once and
reused) and ONE groupBy(dst) aggregation. Ranks stay a (node, rank)
DataFrame; nothing collects to the driver; edges and degrees are persisted
once and re-read per iteration, so the 100-TB cost is n_iters × (one
edges-sized shuffle). Contributions accumulate in exact DECIMAL so every
iteration is addition-order-independent — the whole fit value-hash-matches
a SQL replay (the same determinism contract as
operators/similarity.py:kmeans_fit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: decimal type for order-independent contribution sums (precedent:
#: kmeans_fit's DECIMAL(28,12) centroid means, oracle-proven).
_DEC = "decimal(28,12)"


def pagerank(
    edges: DataFrame,
    n_iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """``n_iters`` power iterations of PageRank over a directed edge list.

    Precondition: every node has out-degree ≥ 1 (true for any symmetrized
    edge set, e.g. plans/graph.py:_sym_edges). Dangling nodes would leak
    rank mass each round (sum < 1); callers with dangling graphs should add
    the standard dangling-mass redistribution term before trusting absolute
    values — relative ranking degrades gracefully.

    Returns (node, rank) with rank a raw double; round at the consumer
    (plans/_util.dround) before emitting across engines.
    """
    # persist edges PRE-PARTITIONED on src: the rank frontier is hash(src)-
    # partitioned too (it descends from groupBy(src)), so every iteration's
    # ranks⋈edges join is exchange-free on both sides — the only shuffle per
    # round is the message-passing groupBy(dst) itself.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .repartition("src")
        .persist()
    )
    # out-degree ≥ 1 precondition ⇒ every node appears as src, so the degree
    # table doubles as the node table (no src∪dst distinct shuffle) and the
    # rank frontier stays keyed by src, reusing the join partitioning.
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
    n = deg.agg(F.count(F.lit(1)).alias("n")).persist()
    ranks = deg.crossJoin(F.broadcast(n)).select(
        "src", "deg", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    for _ in range(n_iters):
        contribs = (
            ranks.join(e, "src")
            .groupBy("dst")
            .agg(
                F.sum((F.col("rank") / F.col("deg")).cast(_DEC))
                .cast("double")
                .alias("c")
            )
        )
        # no per-round materialization: each rank frontier feeds exactly one
        # consumer (the next round), so the chained plan executes as one job
        # over the persisted edge/degree tables. Past ~5 rounds the lineage
        # depth warrants a localCheckpoint every few iterations (precedent:
        # operators/dedup.py connected components); at propagation depths
        # like 3 the chained plan is the cheaper shape.
        ranks = (
            deg.join(contribs, deg.src == contribs.dst)
            .crossJoin(F.broadcast(n))
            .select(
                "src",
                "deg",
                (
                    (F.lit(1.0) - F.lit(damping)) / F.col("n")
                    + F.lit(damping) * F.col("c")
                ).alias("rank"),
            )
        )
    return ranks.select(F.col("src").alias("node"), "rank")


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    n_iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Personalized PageRank: teleportation goes ONLY to the seed set
    (p(v) = 1/|S| for seeds, 0 elsewhere), so rank measures proximity to
    the seeds — the recommendation/relevance variant of :func:`pagerank`.

    Same plan discipline as the global form (edges persisted pre-
    partitioned on src; one groupBy(dst) shuffle per round; exact decimal
    contribution sums), with two deltas: the per-node teleport vector p
    rides the persisted base table, and the rank update is a LEFT join so
    zero-rank nodes stay in the frontier (they acquire rank as mass
    reaches them). Same out-degree ≥ 1 precondition."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .repartition("src")
        .persist()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    sd = seeds.select(F.col(seed_col).alias("src")).distinct()
    ns = sd.agg(F.count(F.lit(1)).alias("ns"))
    base = (
        deg.join(F.broadcast(sd.withColumn("__seed", F.lit(1))), "src", "left")
        .crossJoin(F.broadcast(ns))
        .select(
            "src",
            "deg",
            (
                F.coalesce(F.col("__seed"), F.lit(0)).cast("double") / F.col("ns")
            ).alias("p"),
        )
        .persist()
    )
    ranks = base.select("src", "deg", "p", F.col("p").alias("rank"))
    for _ in range(n_iters):
        contribs = (
            ranks.join(e, "src")
            .groupBy("dst")
            .agg(
                F.sum((F.col("rank") / F.col("deg")).cast(_DEC))
                .cast("double")
                .alias("c")
            )
        )
        ranks = base.join(contribs, base.src == contribs.dst, "left").select(
            "src",
            "deg",
            "p",
            (
                (F.lit(1.0) - F.lit(damping)) * F.col("p")
                + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select(F.col("src").alias("node"), "rank")


def orient_by_degree(pairs: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Orient each undirected edge (given once as ``u < v`` pairs) from its
    lower-(degree, id) endpoint to the higher one → columns (src, dst).

    This is the degree-ordering trick (Cohen 2009; Suri & Vassilvitskii
    WWW'11) that makes neighbourhood-join algorithms hub-safe: after
    orientation every node's OUT-degree is O(√|E|) no matter its raw degree,
    so wedge/intersection joins are bounded by |E|^1.5 instead of Σdeg².
    The degree table is |V|-sized and broadcast. Input must be deduplicated;
    callers persist ``pairs`` if they also consume it elsewhere."""
    deg = (
        pairs.select(F.col(u).alias("node"))
        .unionAll(pairs.select(F.col(v).alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias(u), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias(v), F.col("deg").alias("deg_v"))
    lower_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col(u) < F.col(v))
    )
    return (
        pairs.join(F.broadcast(du), u)
        .join(F.broadcast(dv), v)
        .select(
            F.when(lower_first, F.col(u)).otherwise(F.col(v)).alias("src"),
            F.when(lower_first, F.col(v)).otherwise(F.col(u)).alias("dst"),
        )
    )


def triangle_stats(pairs: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Exact triangle count of an undirected graph (edges given once as
    ``u < v`` pairs): one row (n_edges, max_out_degree, n_triangles).
    Wedges are enumerated around oriented out-neighbourhoods (see
    :func:`orient_by_degree`) and closed with a semi-join, so each triangle
    is counted exactly once and hub nodes cannot blow up the join."""
    pairs = pairs.persist()
    oriented = orient_by_degree(pairs, u, v).persist()
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.dst") == F.col("e2.src"))
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    closing = oriented.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    triangles = wedges.join(closing, ["a", "c"], "left_semi")
    return (
        pairs.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(
            oriented.groupBy("src")
            .agg(F.count(F.lit(1)).alias("od"))
            .agg(F.max("od").alias("max_out_degree"))
        )
        .crossJoin(triangles.agg(F.count(F.lit(1)).alias("n_triangles")))
    )


def kcore_peel(
    pairs: DataFrame,
    k: int,
    n_rounds: int,
    u: str = "u",
    v: str = "v",
) -> DataFrame:
    """``n_rounds`` of synchronous k-core peeling over an undirected graph
    (edges given once as u < v pairs): each round drops every node whose
    CURRENT degree is below k, plus its incident edges. With enough rounds
    this converges to the exact k-core; a fixed round count keeps the whole
    computation a static DAG that an external engine can replay CTE-for-CTE
    (same fixed-round contract as :func:`pagerank`).

    Returns one row per round: (round, n_nodes, n_edges) of the surviving
    subgraph — equal consecutive rows mean the peeling converged (the
    exact k-core was reached). Each round is one degree aggregation + two
    anti-joins; the frontier shrinks monotonically, so per-round cost
    falls. Rounds-to-converge is bounded by the peeling depth (degeneracy
    ordering length), small on real graphs."""
    e = pairs.select(F.col(u).alias("u"), F.col(v).alias("v")).persist()
    stats = []
    for r in range(1, n_rounds + 1):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        bad = deg.where(F.col("deg") < k).select("node")
        # eager localCheckpoint, not persist: each round's plan embeds the
        # previous round's; 4 lazily-persisted rounds nest into a plan the
        # optimizer re-analyzes per branch (measured 34 s of mostly driver
        # time on a 47k-edge graph). Checkpointing truncates lineage so
        # planning stays O(1) per round — the connected_components rule.
        new_e = (
            e.join(bad.withColumnRenamed("node", "u"), "u", "left_anti")
            .join(bad.withColumnRenamed("node", "v"), "v", "left_anti")
            .select("u", "v")
            .localCheckpoint()
        )
        nodes_after = (
            new_e.select(F.col("u").alias("node"))
            .unionAll(new_e.select(F.col("v").alias("node")))
            .distinct()
        )
        stats.append(
            nodes_after.agg(F.count(F.lit(1)).alias("n_nodes")).crossJoin(
                new_e.agg(F.count(F.lit(1)).alias("n_edges"))
            ).select(F.lit(r).alias("round"), "n_nodes", "n_edges")
        )
        e = new_e
    out = stats[0]
    for st in stats[1:]:
        out = out.unionByName(st)
    return out


def node_clustering(pairs: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Per-node triangle participation and local clustering coefficient
    2·T(v) / (deg(v)·(deg(v)−1)) over an undirected graph (edges once as
    u < v). Triangles enumerate through the same degree-ordered wedge join
    as :func:`triangle_stats` (hub-safe); each closed triangle credits all
    three vertices via one explode. Exact integer arithmetic until the
    final ratio."""
    pairs = pairs.persist()
    oriented = orient_by_degree(pairs, u, v).persist()
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.dst") == F.col("e2.src"))
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    closing = oriented.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    triangles = wedges.join(closing, ["a", "c"], "left_semi")
    credits = (
        triangles.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        pairs.select(F.col(u).alias("node"))
        .unionAll(pairs.select(F.col(v).alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        deg.join(credits, "node", "left")
        .withColumn("n_triangles", F.coalesce("n_triangles", F.lit(0)))
        .withColumn(
            "clustering",
            F.when(
                F.col("deg") >= 2,
                (F.lit(2) * F.col("n_triangles")).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
            ).otherwise(F.lit(0.0)),
        )
    )


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Multi-source breadth-first search: every node's hop distance from the
    seed SET (the minimum over seeds), up to ``max_depth``. Returns
    (node, level); unreached nodes are absent.

    Frontier iteration, the distributed-BFS shape: per round ONE equi-join
    (edges ⋈ frontier on src — edges arrive pre-partitioned by the caller,
    so only the frontier moves), a distinct on the discovered set, and an
    anti-join against visited so each node is expanded exactly once. State
    per round is (node, level) pairs — never adjacency materialization —
    and each frontier is localCheckpoint'ed to cut the lineage, same
    discipline as the PageRank loops. Wavefront cost: Σ_d |edges(frontier_d)|
    = O(|E|) total across all rounds, the textbook BFS bound."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    visited = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).alias("level"))
        .localCheckpoint()
    )
    frontier = visited.select("node")
    for depth in range(1, max_depth + 1):
        nxt = (
            e.join(frontier, e.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(depth).alias("level"))
            .localCheckpoint()
        )
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
    return visited


def hits_scores(
    edges: DataFrame,
    n_iters: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS (Kleinberg) hub/authority scores over a DIRECTED edge set, sum-
    normalized per half-step. Returns (node, authority) for dst-side nodes
    after ``n_iters`` full iterations.

    Sum normalization (not L2) keeps every step either exact integer
    arithmetic or a single IEEE double division, so scores are bit-
    reproducible across engines: contribution sums ride DECIMAL(28,12)
    (order-independent), and each normalizer is itself a decimal-exact sum.
    Plan shape per half-step: one equi-join against the persisted
    pre-partitioned edge set + one groupBy shuffle — identical discipline
    to :func:`pagerank`; nothing materializes beyond (node, score) pairs."""
    # ONE shuffle builds the deduped, src-partitioned edge table: hash-
    # partitioning by src alone already co-locates every copy of a given
    # (src, dst) pair, so the following dropDuplicates needs no second
    # exchange (HashPartitioning(src) satisfies the distinct's clustering
    # requirement), and the layout is exactly what the per-half-step src
    # joins want. The naive .distinct().repartition("src") shuffles the
    # full edge set twice.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .repartition("src")
        .dropDuplicates(["src", "dst"])
        .persist()
    )

    def _normalize(scores: DataFrame, key: str) -> DataFrame:
        # persist: scores feeds BOTH the normalizer aggregate and the
        # division — unpersisted, the whole upstream join chain would
        # compute twice per half-step and compound across iterations (the
        # file-scan lint can't see this: the recompute is over the cached
        # edge table, not a scan). The normalized result is eagerly
        # localCheckpoint'ed (tiny: one (node, score) pair per node, same
        # discipline as bfs_levels) so the persisted input can be RELEASED
        # immediately — without this, each half-step's cache accumulated
        # for the life of the session.
        #
        # A trade-off measurement (a one-off probe timing each form at
        # k=2/4/8) pins this as the ONLY depth-scalable form, not merely the
        # bounded-cache one: wall grows linearly in n_iters (2.2/3.9/7.3 s
        # at k=2/4/8, sf0.1). The "cheaper" alternatives both lose —
        # deferred unpersist-on-next-step (persist each half-step, release
        # the previous after the next materializes) keeps lineage nested,
        # and because the normalizer references `scores` TWICE (main side +
        # broadcast total) the analyzed logical plan DOUBLES per half-step
        # (measured ×2.3: 6.6k → 241k plan chars by half-step 6; per-step
        # count wall 1.3 s → 165 s at sf0.001 — caching bounds executor
        # memory, not driver re-analysis) and never finishes k=4 at sf0.1;
        # skipping the persist entirely runs the half-step subtree twice
        # inside one checkpoint job, measured ~2.2× eager at k=2.
        s = scores.persist()
        tot = s.agg(F.sum(F.col("s").cast(_DEC)).cast("double").alias("t"))
        out = (
            s.crossJoin(F.broadcast(tot))
            .select(key, (F.col("s") / F.col("t")).alias("s"))
            .localCheckpoint()
        )
        s.unpersist()
        return out

    # h0 = 1.0 on every src node: the first authority pass is then the exact
    # integer in-degree, so iteration 1 needs no float sum at all.
    auth = _normalize(
        e.groupBy("dst").agg(F.count(F.lit(1)).cast("double").alias("s")), "dst"
    )
    for _ in range(n_iters - 1):
        hub = _normalize(
            e.join(auth, "dst")
            .groupBy("src")
            .agg(F.sum(F.col("s").cast(_DEC)).cast("double").alias("s")),
            "src",
        )
        auth = _normalize(
            e.join(hub, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("s").cast(_DEC)).cast("double").alias("s")),
            "dst",
        )
    # Every half-step result is already materialized by _normalize's eager
    # localCheckpoint, so the returned plan no longer references e — the
    # edge cache can be released here instead of leaking for the session.
    e.unpersist()
    return auth.select(F.col("dst").alias("node"), F.col("s").alias("authority"))
