"""Protein-interaction network operators (reference parity).

Semantics from the reference's NetworkDB object (sim.sc:13-76) and
Loaders.loadNetwork (sim.sc:134-157), re-expressed with this engine's
operator library:

- edges are undirected: ``joins.symmetrize`` + distinct (sim.sc:53-54),
  one scan of the interactions;
- endpoints are uniprot names mapped to gene ids by joining the exploded
  accession dimension once per endpoint (sim.sc:64-70) — here via
  ``joins.annotate_edges`` with an explicit broadcast (the gene dim is
  small; the edge table at scale is not);
- adjacency LUT: collect_set of neighbours + HLL++ degree (sim.sc:72-74);
- the tissue co-expression filter keeps only neighbour pairs that share at
  least one expressed tissue (sim.sc:144-154).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.operators.joins import annotate_edges, symmetrize


def _exploded_accessions(targets: DataFrame) -> DataFrame:
    """gene-accession dimension: one row per (target_id, accession)
    (sim.sc:21-26/57-60; the reference's orderBy-before-cache is dropped —
    a global sort buys nothing under hash joins, X4)."""
    return targets.select(
        "target_id", F.explode("uniprot_accessions").alias("accession")
    )


def build_network_lut(interactions: DataFrame, targets: DataFrame) -> DataFrame:
    """Adjacency lookup table: target_id → (neighbours, degree)
    (sim.sc:44-75). The reference's mi_score cutoff is left out, as it is
    commented out there (sim.sc:45-49)."""
    edges = symmetrize(
        interactions.select(
            F.col("interactorA_uniprot_name").alias("A"),
            F.col("interactorB_uniprot_name").alias("B"),
        ),
        "A",
        "B",
    ).distinct()
    annotated = annotate_edges(
        edges,
        _exploded_accessions(targets),
        edge_keys=("A", "B"),
        dim_key="accession",
        payload={"target_id": "id"},
    )
    return annotated.groupBy(F.col("id_src").alias("target_id")).agg(
        F.collect_set("id_dst").alias("neighbours"),
        F.approx_count_distinct("id_dst").alias("degree"),
    )


def tissue_filtered_network(
    interactions: DataFrame, targets: DataFrame, expressions: DataFrame
) -> DataFrame:
    """Co-expression-filtered adjacency (sim.sc:134-157): explode the LUT,
    join expressed-tissue lists for both endpoints, keep pairs sharing ≥1
    tissue, regroup.

    ``expressions`` is the shaped form: (target_id, tissues: array<string>).
    """
    lut = build_network_lut(interactions, targets)
    neighbour_tissues = expressions.select(
        F.col("target_id").alias("neighbour"),
        F.col("tissues").alias("neighbour_tissues"),
    )
    # the tissues rename folds into one select (mirroring the Project the
    # optimizer puts below the Generate — renaming INSIDE the explode
    # select would split into Generate + an extra Project above it), and
    # the shared-tissue predicate sits directly in the filter: each eager
    # DataFrame call costs a driver-side analysis, and neither form changes
    # the optimized plan.
    exploded = (
        lut.join(expressions, "target_id")
        .select(
            "target_id", "neighbours", F.col("tissues").alias("target_id_tissues")
        )
        .select("*", F.explode("neighbours").alias("neighbour"))
    )
    return (
        exploded.join(neighbour_tissues, "neighbour")
        .where(
            F.size(F.array_intersect("target_id_tissues", "neighbour_tissues"))
            > 0
        )
        .groupBy("target_id")
        .agg(F.collect_list("neighbour").alias("neighbours"))
    )
