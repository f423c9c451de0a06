"""The full drug-repurposing pipeline DAG (reference parity with
sim.sc:341-516, main).

Dataflow: 11 shaped inputs → tissue-filtered interaction network →
evidence union + per-datasource score columns → propagation over
neighbours∪self → grouped harmonic association scoring → enrichment joins
(targets+drugs-by-mechanism+AEs, diseases+drugs-by-disease+aggregations) →
repurposing hypotheses (``array_except``: drugs known for the target minus
drugs already used for the disease) → AE-profile overlap scoring →
two outputs: ``associations`` (parquet) and ``drug_disease`` (JSON).

Scale-deliberate differences from the reference (semantics identical but
for duplicate evidence ids, see :func:`pivot_evidence_scores`):
- ``persist()`` only at the nodes with more than one consumer:
  ``aes_by_drug`` (the drugs-by-disease rollup and the second output),
  ``df_t`` (propagation and the enrichment join), ``associations`` (both
  outputs; the reference recomputes its whole lineage for the second one,
  SURVEY.md C2) and, with a whitelist, the exploded whitelist (read before
  and after the grouping), all released by ``PipelineOutputs.close()``.
  Every other node stays in one plan for Catalyst;
- per-datasource evidence scores as a per-row projection instead of the
  reference's pivot by ``evs_id`` and self-join (no shuffle);
- broadcast hints on the small dimension joins;
- no cosmetic global sorts.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.operators.arrays import overlap_coefficient
from platform_etl_drug_disease_spark.plans.associations import (
    make_associations,
    pivot_evidence_scores,
    propagate_over_network,
)
from platform_etl_drug_disease_spark.plans.domain_loaders import (
    shape_aggregated_drugs,
    shape_diseases,
    shape_drugs,
    shape_evidence,
    shape_expression,
    shape_faers_by_drug,
    shape_faers_by_target,
    shape_genetics_evidence,
    shape_targets,
)
from platform_etl_drug_disease_spark.plans.network import tissue_filtered_network


class PipelineOutputs:
    """The pipeline's two outputs. ``drug_disease`` is built lazily on
    first attribute access: its DAG is ~15 eager Catalyst-analysis ops over
    the pipeline's largest trees (the hypotheses projection with nested
    transforms, the AE-overlap explode join and scoring chain), and the
    whitelist branch reads only ``associations``.

    :meth:`close` (or leaving a ``with`` block) unpersists the frames
    :func:`run_pipeline` cached, so a long-lived session can run the
    pipeline repeatedly without piling up cached blocks. Close only after
    both outputs are written: they read the cached frames."""

    def __init__(
        self,
        associations: DataFrame,
        drug_disease_fn: Callable[[], DataFrame],
        persisted: tuple[DataFrame, ...],
    ) -> None:
        self.associations = associations
        self._drug_disease_fn = drug_disease_fn
        self._drug_disease: DataFrame | None = None
        self._persisted = persisted

    @property
    def drug_disease(self) -> DataFrame:
        if self._drug_disease is None:
            self._drug_disease = self._drug_disease_fn()
        return self._drug_disease

    def close(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted = ()

    def __enter__(self) -> PipelineOutputs:
        return self

    def __exit__(self, *exc: object) -> None:
        self.close()


def drugs_for_disease(drugs: DataFrame, aes_by_drug: DataFrame, aggregated: DataFrame) -> DataFrame:
    """Per disease: every known drug with its metadata + AE profile
    (sim.sc:380-399). right_outer keeps aggregation rows whose drug has no
    metadata in the drug index — reference semantics.

    A disease has one aggregation row per drug, each with its own
    ``associated_*`` arrays; the reference keeps an arbitrary one
    (``first``). Here the row with the smallest (drug_id, arrays) wins, and
    the drug list is sorted (``collect_list`` order follows the
    partitioning), so the output does not depend on row arrival order."""
    enriched = drugs.join(aes_by_drug, "drug_id", "left_outer").join(
        aggregated, "drug_id", "right_outer"
    )
    pick = F.min(
        F.struct("drug_id", "associated_disease_ids", "associated_target_ids")
    )
    # the aes→drug_aes rename is the struct field's alias: one eager op
    # fewer than a withColumnRenamed, and the same optimized plan
    return enriched.groupBy("disease_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("aes").alias("drug_aes"),
                    "drug_id",
                    "indication_ids",
                    "max_clinical_trial_phase",
                    "mechanisms_of_action",
                    "number_of_mechanisms_of_action",
                    "pref_name",
                )
            )
        ).alias("drugs_for_disease"),
        pick["associated_disease_ids"].alias("associated_disease_ids"),
        pick["associated_target_ids"].alias("associated_target_ids"),
    )


def drugs_for_target(drugs: DataFrame, aes_by_target: DataFrame) -> DataFrame:
    """Per target: drugs acting on it via mechanism-of-action components
    (sim.sc:400-422): nested transform → flatten → explode → rollup, plus
    the target's AE profile. The drug list is sorted, as in
    :func:`drugs_for_disease`."""
    target_ids = F.flatten(
        F.transform(
            "mechanisms_of_action",
            lambda m: F.transform(m["target_components"], lambda c: c["ensembl"]),
        )
    )
    return (
        drugs.where(F.col("number_of_mechanisms_of_action") > 0)
        .withColumn("target_id", F.explode(target_ids))
        .groupBy("target_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "drug_id",
                        "max_clinical_trial_phase",
                        "drug_type",
                        "pref_name",
                        "indication_ids",
                    )
                )
            ).alias("drugs_for_target")
        )
        .join(aes_by_target, "target_id", "left_outer")
        .withColumnRenamed("aes", "target_aes")
    )


def run_pipeline(
    drug: DataFrame,
    target: DataFrame,
    disease: DataFrame,
    evidence: DataFrame,
    interactions: DataFrame,
    aggregated_drugs: DataFrame,
    studies: DataFrame,
    predictions: DataFrame,
    faers_by_drug: DataFrame,
    faers_by_target: DataFrame,
    expression: DataFrame,
    whitelist: DataFrame | None = None,
    harmonic_cutoff: float = 0.1,
) -> PipelineOutputs:
    """Wire the full DAG over raw (schema-conforming) inputs and return both
    output DataFrames, lazily. Mirrors main (sim.sc:341-516) including the
    whitelist branch: with a whitelist, associations group by
    (neighbour, whitelist_id) and skip the harmonic/new-drug cutoffs."""
    if whitelist is None:
        selected = None
        key = "disease_id"
        keep_association = F.col("harmonic") > harmonic_cutoff
        keep_hypotheses = F.col("new_drugs_size") > 0
    else:
        # read twice: narrows the evidence before the grouping, then maps
        # each whitelist_id back to its diseases
        exploded_whitelist = whitelist.withColumn(
            "disease_id", F.explode("whitelist")
        ).persist()
        selected = F.broadcast(exploded_whitelist)
        key = "whitelist_id"
        keep_association = keep_hypotheses = F.lit(True)

    drugs = shape_drugs(drug)
    expressions = shape_expression(expression)
    targets = shape_targets(target)
    diseases = shape_diseases(disease)
    network = tissue_filtered_network(interactions, targets, expressions)
    aggregated = shape_aggregated_drugs(aggregated_drugs)
    evidences = shape_evidence(evidence)
    genetics = shape_genetics_evidence(studies, predictions)
    aes_by_drug = shape_faers_by_drug(faers_by_drug).persist()
    aes_by_target = shape_faers_by_target(faers_by_target)

    df_dr = drugs_for_disease(drugs, aes_by_drug, aggregated)
    df_d = diseases.join(df_dr, "disease_id", "left_outer")
    df_t = (
        targets.join(drugs_for_target(drugs, aes_by_target), "target_id", "left_outer")
        .join(network, "target_id", "left_outer")
        .persist()
    )

    evs = pivot_evidence_scores(evidences.unionByName(genetics))
    prepared = propagate_over_network(evs, df_t)
    if selected is not None:
        prepared = prepared.join(selected, "disease_id")
    grouped = make_associations(
        prepared, [F.col("neighbour").alias("target_id"), F.col(key)]
    )
    if selected is not None:
        grouped = grouped.join(selected, "whitelist_id")
    new_drugs = F.array_except(
        F.col("drugs_for_target.drug_id"), F.col("drugs_for_disease.drug_id")
    )
    associations = (
        grouped.where(keep_association)
        .join(df_t, "target_id")
        .join(df_d, "disease_id")
        .withColumns({"new_drugs": new_drugs, "new_drugs_size": F.size(new_drugs)})
        .where(keep_hypotheses)
        .persist()
    )

    def _build_drug_disease() -> DataFrame:
        return _drug_disease_output(associations, aes_by_drug)

    persisted = (aes_by_drug, df_t, associations)
    if whitelist is not None:
        persisted += (exploded_whitelist,)
    return PipelineOutputs(
        associations=associations,
        drug_disease_fn=_build_drug_disease,
        persisted=persisted,
    )


def _drug_disease_output(
    associations: DataFrame, aes_by_drug: DataFrame
) -> DataFrame:
    """The second output's DAG (hypotheses projection → AE-overlap scoring),
    factored out of :func:`run_pipeline` so it can build lazily — see
    :class:`PipelineOutputs`."""
    hypotheses = associations.select(
        "disease_id",
        "target_id",
        "harmonic",
        "harmonic_genetics",
        "harmonic_literature",
        "target_name",
        "disease_name",
        "therapeutic_areas",
        F.array_distinct(
            F.flatten(
                F.transform(
                    "drugs_for_disease",
                    lambda d: F.transform(
                        d["drug_aes"], lambda ae: ae["drug_ae_event"]
                    ),
                )
            )
        ).alias("disease_aes_from_drugs"),
        F.array_distinct(F.flatten(F.col("drugs_for_disease.indication_ids"))).alias(
            "disease_indication_from_drugs"
        ),
        F.array_max(F.col("drugs_for_disease.max_clinical_trial_phase")).alias(
            "disease_max_clinical_trial_phase_from_drugs"
        ),
        F.array_max(F.col("drugs_for_target.max_clinical_trial_phase")).alias(
            "target_max_clinical_trial_phase_from_drugs"
        ),
        F.col("associated_disease_ids").alias("associated_disease_ids_from_disease_drug_agg"),
        F.col("associated_target_ids").alias("associated_target_ids_from_disease_drug_agg"),
        F.col("new_drugs").alias("hypotheses"),
    )

    drug_ae_events = aes_by_drug.select(
        "drug_id", F.col("aes.drug_ae_event").alias("drug_ae_events")
    )
    joined = hypotheses.withColumn("drug_hypothesis", F.explode("hypotheses")).join(
        F.broadcast(drug_ae_events),
        F.col("drug_hypothesis") == F.col("drug_id"),
        "left_outer",
    )
    # ONE select does the rename and both scores: every eager Dataset op
    # re-analyzes the full tree, and CollapseProject would merge the three
    # into one Project anyway. The scores read `drug_ae_events` directly, the
    # column the rename aliases.
    scored = joined.select(
        *[
            F.col("drug_ae_events").alias("drug_hypothesis_aes")
            if c == "drug_ae_events"
            else F.col(c)
            for c in joined.columns
        ],
        overlap_coefficient("drug_ae_events", "disease_aes_from_drugs").alias(
            "drug_hypothesis_aes_score"
        ),
        overlap_coefficient("disease_aes_from_drugs", "drug_ae_events").alias(
            "disease_aes_score"
        ),
    )
    drug_disease = scored.withColumn(
        "drug_hypothesis_disease_aes_score",
        F.lit(0.4) * F.col("drug_hypothesis_aes_score")
        + F.lit(0.6) * F.col("disease_aes_score"),
    ).where(F.col("drug_hypothesis_disease_aes_score") > 0.0)
    return drug_disease
