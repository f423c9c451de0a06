"""Catalog entries for the reference-parity drug-disease pipeline.

The pipeline's domain inputs aren't part of the harness parquet tables, so
these queries run the full DAG over the engineered synthetic inputs
(plans/synthetic_domain.py) — sf-independent and fully deterministic. The
oracle is the hand-computed golden encoded as literal SQL, which makes the
entire 11-input DAG (network build → tissue filter → propagation → harmonic
scoring → hypotheses → AE overlap) a hash-checked correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.plans._util import arr_join
from platform_etl_drug_disease_spark.plans.drug_disease import (
    PipelineOutputs,
    run_pipeline,
)
from platform_etl_drug_disease_spark.plans.synthetic_domain import domain_inputs


def _run(spark: SparkSession, whitelist: bool) -> PipelineOutputs:
    inputs = domain_inputs(spark)
    if not whitelist:
        inputs = {k: v for k, v in inputs.items() if k != "whitelist"}
    return run_pipeline(**inputs)


def _collect_and_close(
    spark: SparkSession, run: PipelineOutputs, df: DataFrame
) -> DataFrame:
    """``df`` (a small normalized output of ``run``) as local rows, with
    ``run`` closed. A catalog entry hands back a DataFrame that nothing
    downstream could close, so it releases what ``run_pipeline`` cached
    before returning. The returned frame's plan is a local relation; the
    pipeline's own plan is what ``_default_frame``/``_whitelist_frame``
    return, which is what the plan lint checks."""
    with run:
        return spark.createDataFrame(df.collect(), df.schema)


def _default_frame(spark: SparkSession) -> tuple[PipelineOutputs, DataFrame]:
    """The open default-branch run and its lazy normalized output."""
    run = _run(spark, whitelist=False)
    return run, run.drug_disease.select(
        "disease_id",
        "target_id",
        F.round("harmonic", 6).alias("harmonic"),
        F.round("harmonic_genetics", 6).alias("harmonic_genetics"),
        F.round("harmonic_literature", 6).alias("harmonic_literature"),
        "target_name",
        "disease_name",
        "drug_hypothesis",
        arr_join(F.sort_array("drug_hypothesis_aes")).alias("drug_hypothesis_aes"),
        arr_join(F.sort_array("disease_aes_from_drugs")).alias("disease_aes_from_drugs"),
        F.round("drug_hypothesis_aes_score", 6).alias("drug_hypothesis_aes_score"),
        F.round("disease_aes_score", 6).alias("disease_aes_score"),
        F.round("drug_hypothesis_disease_aes_score", 6).alias("aes_blend_score"),
    )


def drug_disease_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full DAG, default branch; output normalized for hashing (rounded
    scores, sorted arrays)."""
    return _collect_and_close(spark, *_default_frame(spark))


_PIPELINE_SQL = """
SELECT 'EFO_D1' AS disease_id,
       'T1' AS target_id,
       0.755 AS harmonic,
       0.7 AS harmonic_genetics,
       1.1 AS harmonic_literature,
       'G1' AS target_name,
       'disease one' AS disease_name,
       'DR1' AS drug_hypothesis,
       'ae1,ae2' AS drug_hypothesis_aes,
       'ae2,ae3,ae4' AS disease_aes_from_drugs,
       0.5 AS drug_hypothesis_aes_score,
       0.333333 AS disease_aes_score,
       0.4 AS aes_blend_score
"""


def _whitelist_frame(spark: SparkSession) -> tuple[PipelineOutputs, DataFrame]:
    """The open whitelist-branch run and its lazy normalized output."""
    run = _run(spark, whitelist=True)
    return run, run.associations.select(
        "target_id",
        "whitelist_id",
        F.col("evidence_count"),
        F.round("harmonic", 6).alias("harmonic"),
        F.round("harmonic_genetics", 6).alias("harmonic_genetics"),
        F.round("harmonic_literature", 6).alias("harmonic_literature"),
    )


def drug_disease_pipeline_whitelist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitelist branch: groups by (target, whitelist_id), no cutoffs."""
    return _collect_and_close(spark, *_whitelist_frame(spark))


_PIPELINE_WL_SQL = """
SELECT * FROM (VALUES
    ('T1', 'W1', CAST(3 AS BIGINT), 0.755, 0.7, 1.1),
    ('T2', 'W1', CAST(3 AS BIGINT), 0.755, 0.7, 1.1)
) AS t(target_id, whitelist_id, evidence_count, harmonic,
       harmonic_genetics, harmonic_literature)
"""


QUERIES = {
    "drug_disease_pipeline": drug_disease_pipeline,
    "drug_disease_pipeline_whitelist": drug_disease_pipeline_whitelist,
}

ORACLES = {
    "drug_disease_pipeline": _PIPELINE_SQL,
    "drug_disease_pipeline_whitelist": _PIPELINE_WL_SQL,
}
