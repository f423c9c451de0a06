"""Association scoring (reference parity with Builder.makeAssociations,
sim.sc:292-338, and the per-datasource evidence scores, sim.sc:431-437).

Per group (parameterized grouping columns, like the reference's only
parameterized operator): evidence count, top-100 descending score list per
datasource, per-datasource rank-weighted harmonic sums, and the blended
harmonic: a second harmonic fold over the pair
``sort_array([harmonic_genetics, 0.2 * harmonic_literature], desc)`` —
i.e. max/1 + min/4 after down-weighting literature.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.functions.harmonic import (
    harmonic_sum,
    top_k_sorted,
)

EVIDENCE_DATASOURCES = ["europepmc", "genetics"]


def pivot_evidence_scores(evs: DataFrame) -> DataFrame:
    """Each evidence row with one score column per datasource in
    ``EVIDENCE_DATASOURCES``: its own score under its own datasource, 0.0
    under every other (sim.sc:433-437).

    A per-row projection, not the reference's pivot by ``evs_id`` joined
    back onto the evidence: with unique ids the two are the same, and the
    projection needs no shuffle. Under duplicate ids they differ. The pivot
    gave every row of an id the score of an arbitrary one of them
    (``first``); here every row keeps its own. A null score becomes 0.0 and
    a row without an ``evs_id`` is dropped, as in the pivot and its join.
    """
    score = F.coalesce(F.col("score"), F.lit(0.0))
    return evs.where(F.col("evs_id").isNotNull()).withColumns(
        {d: F.when(F.col("datasource") == d, score).otherwise(0.0) for d in EVIDENCE_DATASOURCES}
    )


def make_associations(evidences: DataFrame, group_cols: list[Column]) -> DataFrame:
    """Grouped association scores (sim.sc:293-337).

    ``evidences`` must carry ``evs_id``, ``genetics``, ``europepmc`` columns
    (see :func:`pivot_evidence_scores`). Note the score lists keep the zeros
    introduced for the *other* datasource's evidence rows — they sort last
    and contribute nothing to the harmonic, preserving reference semantics
    exactly.
    """
    grouped = evidences.groupBy(*group_cols).agg(
        F.count("evs_id").alias("evidence_count"),
        top_k_sorted(F.collect_list("genetics")).alias("genetics_score_list"),
        top_k_sorted(F.collect_list("europepmc")).alias("literature_score_list"),
    )
    blended = F.sort_array(
        F.array(
            F.col("harmonic_genetics"), F.col("harmonic_literature") * F.lit(0.2)
        ),
        asc=False,
    )
    # the two independent per-datasource harmonics share one withColumns (one
    # analysis pass); the blended harmonic reads both, so it is a second
    # projection.
    return grouped.withColumns(
        {
            "harmonic_genetics": harmonic_sum("genetics_score_list"),
            "harmonic_literature": harmonic_sum("literature_score_list"),
        }
    ).withColumn("harmonic", harmonic_sum(blended))


def propagate_over_network(evs_with_scores: DataFrame, network_lut: DataFrame) -> DataFrame:
    """Spread each evidence row to the target's network neighbours plus the
    target itself (sim.sc:448-450/462-464): join the adjacency LUT, explode
    ``array_union(neighbours, [target_id])``.

    Reference semantics preserved deliberately: the join keeps targets whose
    LUT row exists with null neighbours out of the explode (array_union with
    null → null → explode drops the row), and targets with no LUT row are
    dropped by the inner join — evidence on network-isolated targets does
    not score.
    """
    return (
        evs_with_scores.join(
            network_lut.select("target_id", "neighbours"), "target_id", "inner"
        )
        .withColumn(
            "neighbour",
            F.explode(F.array_union("neighbours", F.array(F.col("target_id")))),
        )
    )
